"""Multimodal (image/audio/video) column handling — extension E4.

Design: media payloads are opaque ``binary`` columns with a typed
metadata struct alongside.  Every per-row transform — encode, decode,
feature-extract, resize, frame-sample, augment, quarantine — is a
small row function run by the one media kernel :func:`_row_map`, a
single ``mapInArrow`` pass, so executors stream record batches
through Python without ever materializing a partition.

Codecs: ``png``, ``jpeg``, ``wav`` and ``gif`` are decoded for REAL by
the pure-stdlib codecs in ``functions/`` (DEFLATE is stdlib zlib; the
rest is public spec).  ``"rawtext"`` remains the deterministic fake
whose payload is the document's UTF-8 bytes, so the text-backed
fixtures stay oracle-checkable.  Formats that truly need external
libraries (video) raise ``NotImplementedError`` at the one-function
codec boundary.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from grpc_map_reduce_spark.functions.gif import decode_gif, encode_gif
from grpc_map_reduce_spark.functions.jpeg import decode_jpeg, encode_jpeg
from grpc_map_reduce_spark.functions.png import decode_png, encode_png
from grpc_map_reduce_spark.functions.wav import decode_wav, encode_wav
from grpc_map_reduce_spark.operators.dedup import bucket_pairs
from grpc_map_reduce_spark.sources.tables import table

#: Metadata carried next to every media payload.
MEDIA_META_DDL = "struct<format:string,width:int,height:int,n_frames:int>"

FEAT_DIM = 8

#: The columns a media consumer's row function reads, in order.
_MEDIA = ["doc_id", "media", "media_meta"]


def _row_map(df: DataFrame, cols: list[str], row_fn, schema: str) -> DataFrame:
    """The one media kernel: a single ``mapInArrow`` pass calling
    ``row_fn(*values)`` on each row's ``cols``.  ``row_fn`` yields
    output tuples — none, one, or several per row (an explode) — and
    each input batch becomes one record batch typed by ``schema``
    (DDL, converted to an Arrow schema once on the driver).  Only
    ``cols`` are shipped to the Python worker."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(DataType.fromDDL(schema))

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            rows = [out for args in zip(*(c.to_pylist() for c in batch.columns))
                    for out in row_fn(*args)]
            columns = list(zip(*rows)) or [()] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [pa.array(v, f.type) for v, f in zip(columns, arrow)],
                schema=arrow)

    return df.select(*cols).mapInArrow(run, schema)


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` hash-partitioned by ``doc_id`` over every core, so
    the CPU-bound codec passes use all of them."""
    return table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id")


def _feat_json(feats: DataFrame) -> DataFrame:
    """(doc_id, n_bytes, feat) with ``feat`` serialized to a JSON
    string at the query edge: the operator keeps a real
    ``array<double>``, but raw list columns crash the driver's pandas
    canonicalizer (r3 collection_functions ERR).  Elements go through
    fixed '%.4f' formatting first — Spark's Jackson prints small
    doubles as "4.0E-4" where DuckDB's yyjson prints "0.0004", so
    raw-double JSON would not byte-match."""
    return feats.select(
        "doc_id",
        "n_bytes",
        F.to_json(
            F.transform("feat", lambda x: F.format_string("%.4f", x))
        ).alias("feat"),
    )


def attach_fake_media(docs: DataFrame) -> DataFrame:
    """Deterministically synthesize a media column over ``documents``:
    payload = UTF-8 text bytes, format = 'rawtext', dimensions derived
    from doc_id.  Stands in for `spark.read.format("binaryFile")`."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("media"),
        F.struct(
            F.lit("rawtext").alias("format"),
            (F.lit(32) + (F.col("doc_id") % 480)).cast("int").alias("width"),
            (F.lit(32) + (F.col("doc_id") % 270)).cast("int").alias("height"),
            (F.lit(1) + (F.col("doc_id") % 16)).cast("int").alias("n_frames"),
        ).alias("media_meta"),
    )


def _attach(docs: DataFrame, fmt: str, w: int, h: int, nf: int,
            encode) -> DataFrame:
    """(doc_id, media, media_meta) over ``docs``: ``encode`` of each
    text's leading ``w·h·nf`` UTF-8 bytes (space-padded — fixture text
    is ASCII), with constant ``fmt`` metadata.  A NULL text gives a
    NULL ``media``, as in :func:`attach_fake_media`."""
    n = w * h * nf
    meta = {"format": fmt, "width": w, "height": h, "n_frames": nf}

    def row(doc_id, text):
        if text is None:
            yield doc_id, None, meta
        else:
            yield doc_id, encode(text.encode()[:n].ljust(n, b" ")), meta

    return _row_map(docs, ["doc_id", "text"], row,
                    f"doc_id long, media binary, media_meta {MEDIA_META_DDL}")


#: Pluggable native-decoder adapters (round 9, VERDICT r8 item 3's
#: adapter half): ``register_native_decoder("jpeg", fn)`` routes that
#: format through ``fn(payload) -> raw bytes`` ahead of the stdlib
#: codec — the one-function swap point for libjpeg-turbo/ffmpeg on a
#: real cluster.  Contract (pinned by
#: test_multimodal.py::test_native_decoder_adapter_contract): the
#: adapter returns the decoded byte planes for a valid payload and
#: raises ValueError (or any quarantine-class exception) on a corrupt
#: one — never returns None, never kills the job.  Deliberately OFF
#: by default and per-process: the hash-oracled registered queries
#: pin the stdlib codecs' exact output (a native IDCT rounds
#: differently), so production swaps happen in the ingest job, not in
#: the oracle surface.  A consumer SNAPSHOTS this registry into its
#: row function at plan-build time via :func:`_decoder_snapshot`
#: (executor python workers re-import the module and would never see
#: a driver-side mutation of this dict), so a registration made
#: before building the DataFrame applies to the consumers that decode
#: through :func:`_decode_any`: decode_with_quarantine,
#: extract_features, sample_frames, audio_features, audio_spectrogram,
#: downsample_audio and resize_media's non-PNG branch.  The consumers
#: that need the codec's geometry call the stdlib codec directly and
#: ignore the registry: resize_media's PNG branch, augment_media,
#: dhash_images, sample_gif_frames and q_multimodal_jpeg_decode.
_NATIVE_DECODERS: dict[str, "object"] = {}


def register_native_decoder(fmt: str, fn) -> None:
    """Install (or with ``fn=None`` remove) a native decoder for
    ``fmt``; see _NATIVE_DECODERS for the contract."""
    if fn is None:
        _NATIVE_DECODERS.pop(fmt, None)
    else:
        _NATIVE_DECODERS[fmt] = fn


def _decoder_snapshot() -> dict:
    """Plan-build-time copy of the adapter registry — capture this
    OUTSIDE the row function so cloudpickle ships it (and its function
    values) with the task."""
    return dict(_NATIVE_DECODERS)


def _payload(payload: bytes | None) -> bytes:
    """``payload``, or ``ValueError`` when it is NULL — the check for
    the consumers that call a codec directly and read no metadata."""
    if payload is None:
        raise ValueError("media is NULL")
    return payload


def _media_format(payload: bytes | None, meta: dict | None) -> str:
    """``meta``'s format, or ``ValueError`` naming the NULL when the
    payload, the metadata struct or its format is NULL — a quarantine
    row, not a ``TypeError`` deep inside a codec."""
    _payload(payload)
    if meta is None:
        raise ValueError("media_meta is NULL")
    if meta["format"] is None:
        raise ValueError("media_meta.format is NULL")
    return meta["format"]


def _decode_any(native: dict, payload: bytes | None, meta: dict | None) -> bytes:
    """Adapter-aware decode: the snapshot's decoder for the payload's
    format if one was registered at plan-build time, else the stdlib
    codec (:func:`_decode`)."""
    fmt = _media_format(payload, meta)
    fn = native.get(fmt)
    return fn(payload) if fn is not None else _decode(payload, fmt)


def _decode(payload: bytes, fmt: str) -> bytes:
    """Decode media to raw bytes.  ``png`` is a REAL codec (round 4):
    the pure-stdlib decoder in functions/png.py parses the chunk
    stream, inflates IDAT, and reverses all five scanline filters —
    no PIL needed (``import PIL`` re-checked unavailable in round 4,
    and installs are off-limits; PNG's only compression primitive is
    DEFLATE, which stdlib zlib provides).  ``jpeg`` is REAL as of
    round 7 (functions/jpeg.py: sequential + progressive Huffman
    frames with a fixed-point IDCT per T.81 incl. Annex G;
    hierarchical/lossless/12-bit scope limits raise ValueError →
    quarantine, not job death).  ``rawtext`` stays as the
    deterministic fake for the text-backed fixtures; video formats
    genuinely need external libs and raise — plug one in via
    :func:`register_native_decoder`, which the consumers listed at
    ``_NATIVE_DECODERS`` honor through a plan-build-time snapshot
    (:func:`_decode_any`); this function itself is the stdlib-only
    path."""
    if fmt == "rawtext":
        return payload
    if fmt == "png":
        _, _, _, pixels = decode_png(payload)
        return pixels
    if fmt == "jpeg":
        _, _, _, pixels = decode_jpeg(payload)
        return pixels
    if fmt == "wav":
        _, _, _, samples = decode_wav(payload)
        return samples
    if fmt == "gif":
        _, _, frames = decode_gif(payload)
        return b"".join(frames)
    raise NotImplementedError(
        f"codec for format {fmt!r} not available; plug ffmpeg in here"
    )


def _fake_features(raw: bytes) -> list[float]:
    """Deterministic stand-in for an embedding model: 8 floats from
    the md5 digest of the decoded payload (oracle-computable)."""
    digest = hashlib.md5(raw).hexdigest()
    return [
        round(int(digest[i * 4:(i + 1) * 4], 16) / 65535.0, 4)
        for i in range(FEAT_DIM)
    ]


def extract_features(media_df: DataFrame) -> DataFrame:
    """decode → featurize as a streaming Arrow batch pipeline.

    Output: ``(doc_id, n_bytes, feat: array<double>)``.  The media
    kernel keeps memory bounded by the Arrow batch size regardless of
    partition size — the right shape for multi-MB payloads at scale.
    """

    native = _decoder_snapshot()  # adapters bind at plan build

    def row(doc_id, payload, meta):
        raw = _decode_any(native, payload, meta)
        yield doc_id, len(raw), _fake_features(raw)

    return _row_map(media_df, _MEDIA, row,
                    "doc_id long, n_bytes long, feat array<double>")


def _resize_pixels(pix: bytes, w: int, h: int, ch: int,
                   new_w: int, new_h: int) -> bytes:
    """Nearest-neighbor resample of raw interleaved pixels: output
    (x, y) takes source (x·w//new_w, y·h//new_h) — the floor mapping,
    reproducible in SQL for the oracle."""
    import numpy as np

    a = np.frombuffer(pix, np.uint8).reshape(h, w, ch)
    ys = (np.arange(new_h) * h) // new_h
    xs = (np.arange(new_w) * w) // new_w
    return a[ys][:, xs].tobytes()


def resize_media(media_df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize: PNG payloads are REALLY resized (decode → nearest-
    neighbor resample → re-encode); ``rawtext`` truncates/zero-pads to
    width×height bytes (the deterministic fake).  The metadata's
    width and height become the target's."""

    native = _decoder_snapshot()  # adapters bind at plan build
    target = width * height

    def row(doc_id, payload, meta):
        if _media_format(payload, meta) == "png":
            w0, h0, ch, pix = decode_png(payload)
            out = encode_png(width, height, ch,
                             _resize_pixels(pix, w0, h0, ch, width, height))
        else:
            out = _decode_any(native, payload, meta)[:target].ljust(target, b"\0")
        yield doc_id, out, dict(meta, width=width, height=height)

    return _row_map(media_df, _MEDIA, row,
                    f"doc_id long, media binary, media_meta {MEDIA_META_DDL}")


def sample_frames(media_df: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame-sample stub for fake video: split the payload into
    n_frames equal chunks, keep every ``every_n``-th, one output row
    per kept frame (explodes like a real frame sampler would)."""

    native = _decoder_snapshot()  # adapters bind at plan build

    def row(doc_id, payload, meta):
        raw = _decode_any(native, payload, meta)
        nf = max(int(meta["n_frames"]), 1)
        size = max(len(raw) // nf, 1)
        for i in range(0, nf, every_n):
            yield doc_id, i, raw[i * size:(i + 1) * size]

    return _row_map(media_df, _MEDIA, row,
                    "doc_id long, frame_idx int, frame binary")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _feat_json(extract_features(attach_fake_media(_documents(spark, sf_dir))))


# The fake featurizer is pure md5 math, so even the multimodal path is
# oracle-checkable: DuckDB reproduces the same 8 floats from md5(text).
ORACLE_MULTIMODAL = f"""
SELECT
    doc_id,
    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
    CAST(to_json(list_transform(
        range(0, {FEAT_DIM}),
        i -> printf('%.4f', round((('0x' || substr(md5(text), i * 4 + 1, 4))::BIGINT) / 65535.0, 4))
    )) AS VARCHAR) AS feat
FROM documents
"""

#: Synthetic thumbnail geometry for the PNG round-trip query.
PNG_W, PNG_H = 16, 16


def attach_png_media(docs: DataFrame) -> DataFrame:
    """Encode each document's leading ``PNG_W×PNG_H`` bytes (space-
    padded — fixture text is ASCII, min length 47) as a REAL 8-bit
    grayscale PNG, Paeth-filtered so the decode path exercises the
    hardest filter.  Runs through the media kernel, the same
    executor-side batch shape a binaryFile ingest would feed."""
    return _attach(docs, "png", PNG_W, PNG_H, 1, lambda raw: encode_png(
        PNG_W, PNG_H, 1, raw, filter_type=4))


def q_multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec round trip: text bytes → PNG encode (Paeth) → the
    stdlib PNG decoder → md5 features over the recovered pixels.  The
    oracle computes the expected pixel string directly in SQL, so a
    single wrong pixel anywhere in the DEFLATE/unfilter path breaks
    the hash — DuckDB never sees a PNG, which is the point."""
    return _feat_json(extract_features(attach_png_media(_documents(spark, sf_dir))))


ORACLE_PNG_DECODE = f"""
WITH pix AS (
    SELECT doc_id,
           rpad(substring(text, 1, {PNG_W * PNG_H}), {PNG_W * PNG_H}, ' ') AS p
    FROM documents
)
SELECT
    doc_id,
    CAST({PNG_W * PNG_H} AS BIGINT) AS n_bytes,
    CAST(to_json(list_transform(
        range(0, {FEAT_DIM}),
        i -> printf('%.4f', round((('0x' || substr(md5(p), i * 4 + 1, 4))::BIGINT) / 65535.0, 4))
    )) AS VARCHAR) AS feat
FROM pix
"""


# --------------------------------------------------------------------------
# JPEG (round 7): the REAL lossy codec, hash-checked end to end.
#
# The encoder/decoder in functions/jpeg.py do DCT/IDCT in fixed-point
# INTEGER arithmetic, so while JPEG is lossy, it is DETERMINISTICALLY
# lossy: decode(encode(pixels)) == IDCTint(dequant(quant(DCTint(
# pixels)))) exactly, because the Huffman bitstream layer in between
# is lossless.  The oracle below replays that integer pipeline in SQL
# — the same 64 basis integers and Annex-K quant table are formatted
# in from the codec module, so DuckDB never parses a JPEG (the
# PNG-oracle philosophy) yet a single wrong bit anywhere in the
# marker/Huffman/zig-zag/DCT path breaks the hash.

#: Synthetic thumbnail geometry for the JPEG round-trip query: one
#: 8x8 grayscale block per document.
JPEG_W, JPEG_H = 8, 8


def attach_jpeg_media(docs: DataFrame) -> DataFrame:
    """Encode each document's leading ``JPEG_W*JPEG_H`` bytes (space-
    padded, fixture text is ASCII) as a REAL baseline JPEG via the
    stdlib codec, through the media kernel like the PNG twin."""
    return _attach(docs, "jpeg", JPEG_W, JPEG_H, 1, lambda raw: encode_jpeg(
        JPEG_W, JPEG_H, 1, raw))


def q_multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-lossy-codec round trip: text bytes → JPEG encode (fixed-
    point DCT + Annex-K Huffman) → the stdlib JPEG decoder → the
    recovered pixel block as JSON.  Lossy but exactly reproducible —
    see the module comment above ``JPEG_W``."""

    def row(doc_id, payload):
        pix = decode_jpeg(_payload(payload))[3]
        yield doc_id, len(pix), list(pix)

    decoded = _row_map(attach_jpeg_media(_documents(spark, sf_dir)),
                       ["doc_id", "media"], row,
                       "doc_id long, n_bytes long, pixels array<int>")
    return decoded.select(
        "doc_id", "n_bytes", F.to_json("pixels").alias("pixels")
    )


def _jpeg_oracle_sql() -> str:
    """Replay the deterministic lossy pipeline in DuckDB: integer DCT
    → quantize (round half away from zero) → dequantize → integer
    IDCT → clamp.  Constants come from functions/jpeg.py — the single
    source of truth for both engines."""
    from grpc_map_reduce_spark.functions.jpeg import (
        BASIS_INT, DCT_SCALE, QUANT_LUMA,
    )

    # ::BIGINT[] — a bare int list is INT32[] in DuckDB, and
    # qt * DCT_SCALE overflows INT32 multiplication
    bi = "[" + ", ".join(str(v) for v in BASIS_INT) + "]::BIGINT[]"
    qt = "[" + ", ".join(str(v) for v in QUANT_LUMA) + "]::BIGINT[]"
    half = DCT_SCALE // 2
    return f"""
WITH consts AS (
    SELECT {bi} AS bi, {qt} AS qt
),
base AS (
    SELECT doc_id,
           rpad(substring(text, 1, {JPEG_W * JPEG_H}), {JPEG_W * JPEG_H}, ' ') AS p
    FROM documents
),
s AS (
    SELECT doc_id, y, x, ord(substr(p, y * 8 + x + 1, 1)) - 128 AS sv
    FROM base, unnest(range(8)) AS ty(y), unnest(range(8)) AS tx(x)
),
fsum AS (
    SELECT doc_id, v, u,
           CAST(sum(bi[v * 8 + y + 1] * bi[u * 8 + x + 1] * sv) AS BIGINT) AS f
    FROM s, unnest(range(8)) AS tv(v), unnest(range(8)) AS tu(u), consts
    GROUP BY doc_id, v, u
),
quantized AS (
    SELECT doc_id, v, u,
           (CASE WHEN f >= 0
                 THEN (f + (qt[v * 8 + u + 1] * {DCT_SCALE}) // 2)
                      // (qt[v * 8 + u + 1] * {DCT_SCALE})
                 ELSE -((-f + (qt[v * 8 + u + 1] * {DCT_SCALE}) // 2)
                        // (qt[v * 8 + u + 1] * {DCT_SCALE}))
            END) * qt[v * 8 + u + 1] AS dq
    FROM fsum, consts
),
acc AS (
    SELECT q.doc_id, y, x,
           CAST(sum(bi[v * 8 + y + 1] * bi[u * 8 + x + 1] * dq) AS BIGINT) AS a
    FROM quantized q, unnest(range(8)) AS ty(y), unnest(range(8)) AS tx(x),
         consts
    GROUP BY q.doc_id, y, x
),
pixout AS (
    SELECT doc_id, y, x,
           least(255, greatest(0,
               (CASE WHEN a >= 0 THEN (a + {half}) // {DCT_SCALE}
                     ELSE -((-a + {half}) // {DCT_SCALE}) END) + 128)) AS pv
    FROM acc
)
SELECT doc_id,
       CAST({JPEG_W * JPEG_H} AS BIGINT) AS n_bytes,
       CAST(to_json(list(CAST(pv AS INTEGER) ORDER BY y, x)) AS VARCHAR)
           AS pixels
FROM pixout
GROUP BY doc_id
"""


ORACLE_JPEG_DECODE = _jpeg_oracle_sql()


# --------------------------------------------------------------------------
# Image augmentation — the training-data op every vision/multimodal
# pipeline runs between decode and batching: center crop → horizontal
# flip → brightness shift, all DETERMINISTIC here (a production run
# seeds per-sample RNG; determinism is what makes the op testable).
# The pipeline is real end-to-end: PNG decode → numpy pixel ops →
# PNG re-encode → decode AGAIN (witnessing the encoder too) → md5.
# The oracle rebuilds the expected augmented pixel string with pure
# string/char arithmetic — DuckDB never sees a PNG.
# Darken (not brighten): ASCII sources stay single-byte after -16, so
# md5(VARCHAR) in DuckDB equals md5(bytes) in Spark.
AUG_CROP = 12       # center crop 16×16 → 12×12 (offset 2)
AUG_DARKEN = 16     # brightness shift, clamped at 0


def augment_media(media_df: DataFrame) -> DataFrame:
    """(doc_id, out_w, out_h, aug_md5): crop→hflip→darken over real
    PNG payloads, re-encoded and re-decoded before hashing."""
    import numpy as np

    off = (PNG_W - AUG_CROP) // 2

    def row(doc_id, payload):
        w0, h0, ch, pix = decode_png(_payload(payload))
        a = np.frombuffer(pix, np.uint8).reshape(h0, w0)
        a = a[off:off + AUG_CROP, off:off + AUG_CROP]   # center crop
        a = a[:, ::-1]                                   # hflip
        a = np.maximum(a.astype(np.int16) - AUG_DARKEN, 0).astype(np.uint8)
        # re-encode then decode AGAIN: the augmented sample is written
        # back as a valid PNG, and the witness hashes the round-tripped
        # pixels, not the in-memory array
        png = encode_png(AUG_CROP, AUG_CROP, 1, a.tobytes(), filter_type=2)
        yield doc_id, decode_png(png)[3]

    out = _row_map(media_df, ["doc_id", "media"], row, "doc_id long, aug binary")
    return out.select(
        "doc_id",
        F.lit(AUG_CROP).cast("long").alias("out_w"),
        F.lit(AUG_CROP).cast("long").alias("out_h"),
        F.md5("aug").alias("aug_md5"),
    )


def q_multimodal_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return augment_media(attach_png_media(_documents(spark, sf_dir)))


def _augment_oracle() -> str:
    off = (PNG_W - AUG_CROP) // 2
    return f"""
WITH pix AS (
    SELECT doc_id,
           rpad(substring(text, 1, {PNG_W * PNG_H}), {PNG_W * PNG_H}, ' ') AS p
    FROM documents
),
aug AS (
    SELECT doc_id,
           array_to_string(
               list_transform(range(0, {AUG_CROP}), y ->
                   array_to_string(
                       list_transform(range(0, {AUG_CROP}), x ->
                           chr(CAST(greatest(
                               ascii(substr(p,
                                   (y + {off}) * {PNG_W}
                                   + ({AUG_CROP} - 1 - x + {off}) + 1, 1))
                               - {AUG_DARKEN}, 0) AS INTEGER))),
                       '')),
               '') AS s
    FROM pix
)
SELECT doc_id,
       CAST({AUG_CROP} AS BIGINT) AS out_w,
       CAST({AUG_CROP} AS BIGINT) AS out_h,
       md5(s) AS aug_md5
FROM aug
"""


ORACLE_AUGMENT = _augment_oracle()


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling as a registered query: every 4th frame of each
    fake video, identified by md5 (binary payloads hash-compare
    awkwardly across engines; the digest is the stable witness)."""
    frames = sample_frames(attach_fake_media(_documents(spark, sf_dir)))
    return frames.select(
        "doc_id",
        "frame_idx",
        F.md5("frame").alias("frame_md5"),
        F.octet_length("frame").cast("long").alias("frame_bytes"),
    )


# Fixture text is pure ASCII (verified: octet_length(encode(text)) ==
# length(text) for every row), so VARCHAR substring IS byte slicing
# and md5 over it matches Spark's md5 over the binary frame.
ORACLE_FRAME_SAMPLE = """
WITH base AS (
    SELECT doc_id, text,
           1 + doc_id % 16 AS nf,
           greatest(length(text) // (1 + doc_id % 16), 1) AS fsize
    FROM documents
),
frames AS (
    SELECT doc_id, fsize,
           CAST(unnest(range(0, nf, 4)) AS INTEGER) AS frame_idx,
           text
    FROM base
)
SELECT doc_id,
       frame_idx,
       md5(substring(text, frame_idx * fsize + 1, fsize)) AS frame_md5,
       CAST(length(substring(text, frame_idx * fsize + 1, fsize)) AS BIGINT)
           AS frame_bytes
FROM frames
"""


#: Synthetic audio geometry: 8-bit unsigned PCM, text bytes as the
#: waveform (space-padded, same witness trick as the PNG queries).
WAV_N, WAV_RATE = 256, 8000


def attach_wav_media(docs: DataFrame) -> DataFrame:
    """Encode each document's leading ``WAV_N`` bytes as a REAL 8-bit
    PCM WAV (RIFF container via functions/wav.py)."""
    return _attach(docs, "wav", WAV_N, 1, 1, lambda raw: encode_wav(
        WAV_RATE, 1, 8, raw))


def audio_features(media_df: DataFrame) -> DataFrame:
    """Real signal features over decoded PCM, all INTEGER so the hash
    is engine-portable: sample count, total energy (Σ|s−128| for u8),
    peak deviation, and midline zero-crossing count."""
    import numpy as np

    native = _decoder_snapshot()  # adapters bind at plan build

    def row(doc_id, payload, meta):
        raw = _decode_any(native, payload, meta)
        s = np.frombuffer(raw, np.uint8).astype(np.int64) - 128
        neg = s < 0
        yield (doc_id, len(s), int(np.abs(s).sum()),
               int(np.abs(s).max()) if len(s) else 0,
               int((neg[1:] != neg[:-1]).sum()) if len(s) > 1 else 0)

    return _row_map(media_df, _MEDIA, row,
                    "doc_id long, n_samples long, energy long, peak long, "
                    "zero_crossings long")


def q_multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio pipeline: text bytes → PCM WAV encode → RIFF parse →
    integer signal features; the oracle computes the same features
    from the character codes directly."""
    return audio_features(attach_wav_media(_documents(spark, sf_dir)))


ORACLE_WAV_FEATURES = f"""
WITH pix AS (
    SELECT doc_id,
           rpad(substring(text, 1, {WAV_N}), {WAV_N}, ' ') AS p
    FROM documents
),
s AS (
    SELECT doc_id,
           list_transform(range(1, {WAV_N} + 1),
                          i -> ascii(substr(p, i, 1)) - 128) AS sm
    FROM pix
)
SELECT doc_id,
       CAST({WAV_N} AS BIGINT) AS n_samples,
       CAST(list_sum(list_transform(sm, x -> abs(x))) AS BIGINT) AS energy,
       CAST(list_max(list_transform(sm, x -> abs(x))) AS BIGINT) AS peak,
       CAST(len(list_filter(range(1, {WAV_N}),
                i -> (sm[i] < 0) <> (sm[i + 1] < 0))) AS BIGINT)
           AS zero_crossings
FROM s
"""


#: Synthetic animation geometry: GIF_NF frames of GIF_W×GIF_H gray
#: pixels per document (text bytes, space-padded — the same oracle
#: witness trick as PNG/WAV).
GIF_W, GIF_H, GIF_NF = 8, 8, 3
GIF_FRAME_STEP = 2  # sample every 2nd frame


def attach_gif_media(docs: DataFrame) -> DataFrame:
    """Encode each document's leading bytes as a REAL animated GIF89a
    (LZW-compressed, multi-frame) via functions/gif.py."""
    fsz = GIF_W * GIF_H
    return _attach(docs, "gif", GIF_W, GIF_H, GIF_NF, lambda raw: encode_gif(
        GIF_W, GIF_H, [raw[i:i + fsz] for i in range(0, len(raw), fsz)]))


def sample_gif_frames(media_df: DataFrame) -> DataFrame:
    """REAL frame sampling: parse the GIF container, keep every
    ``GIF_FRAME_STEP``-th decoded frame — one output row per kept frame."""

    def row(doc_id, payload):
        frames = decode_gif(_payload(payload))[2]
        for i in range(0, len(frames), GIF_FRAME_STEP):
            yield doc_id, i, hashlib.md5(frames[i]).hexdigest(), len(frames[i])

    return _row_map(media_df, ["doc_id", "media"], row,
                    "doc_id long, frame_idx int, frame_md5 string, frame_bytes long")


def q_multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real video-style pipeline: text bytes → animated GIF encode
    (LZW) → container parse + LZW decode → every-2nd-frame sample,
    witnessed by md5.  The oracle computes each kept frame's bytes
    directly from the text, so one wrong byte anywhere in the LZW
    round trip breaks the hash."""
    return sample_gif_frames(attach_gif_media(_documents(spark, sf_dir)))


ORACLE_GIF_FRAMES = f"""
WITH pix AS (
    SELECT doc_id,
           rpad(substring(text, 1, {GIF_W * GIF_H * GIF_NF}),
                {GIF_W * GIF_H * GIF_NF}, ' ') AS p
    FROM documents
)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       md5(substr(p, f * {GIF_W * GIF_H} + 1, {GIF_W * GIF_H})) AS frame_md5,
       CAST({GIF_W * GIF_H} AS BIGINT) AS frame_bytes
FROM pix, unnest(range(0, {GIF_NF}, {GIF_FRAME_STEP})) AS t(f)
"""


#: Resize target for the registered round-trip query.
PNG_RW, PNG_RH = 8, 8


def q_multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full real-codec image pipeline: encode (Paeth PNG) → decode →
    nearest-neighbor resize → re-encode → decode again → md5 features
    over the resized pixels.  The oracle reconstructs the resized
    pixel string character-by-character with the same floor mapping —
    two full codec round-trips and the resample kernel all hash-
    checked against an engine that never touches a PNG."""
    resized = resize_media(attach_png_media(_documents(spark, sf_dir)),
                           PNG_RW, PNG_RH)
    return _feat_json(extract_features(resized))


ORACLE_PNG_RESIZE = f"""
WITH pix AS (
    SELECT doc_id,
           rpad(substring(text, 1, {PNG_W * PNG_H}), {PNG_W * PNG_H}, ' ') AS p
    FROM documents
),
resized AS (
    SELECT doc_id,
           list_reduce(list_transform(range(0, {PNG_RW * PNG_RH}),
               i -> substr(p,
                           ((i // {PNG_RW}) * {PNG_H} // {PNG_RH}) * {PNG_W}
                           + ((i % {PNG_RW}) * {PNG_W} // {PNG_RW}) + 1,
                           1)),
               (a, b) -> a || b) AS rp
    FROM pix
)
SELECT
    doc_id,
    CAST({PNG_RW * PNG_RH} AS BIGINT) AS n_bytes,
    CAST(to_json(list_transform(
        range(0, {FEAT_DIM}),
        i -> printf('%.4f', round((('0x' || substr(md5(rp), i * 4 + 1, 4))::BIGINT) / 65535.0, 4))
    )) AS VARCHAR) AS feat
FROM resized
"""


def decode_with_quarantine(media_df: DataFrame) -> DataFrame:
    """Ingest-robust decode: each payload either decodes (``ok``) or
    lands in quarantine with its error class — a corrupt blob must
    never kill the job, it must become a countable row.  Output one
    row per doc: (doc_id, status, n_bytes, error_class).  A NULL
    payload, metadata struct or format is ``corrupt`` with
    ``ValueError``.

    ``error_class`` carries the exception type name for quarantined
    rows ('' for ok/unsupported), so operators can distinguish guard
    activity from a codec programming bug surfacing as e.g. a
    KeyError — the broad catch below would otherwise make the two
    indistinguishable (ADVICE r8)."""
    import struct
    import zlib

    # The codecs raise ValueError on every *recognized* malformation,
    # but a truncated/bit-flipped payload can surface as the parse
    # machinery's own exception before any validity check fires:
    # IndexError (JPEG cut mid-marker, jpeg.py), struct.error (a
    # segment body shorter than its unpack width), KeyError (a scan
    # referencing an undeclared component id), zlib.error (corrupt
    # PNG IDAT stream).  All of those are the same ingest fact — the
    # blob is corrupt — so they quarantine rather than kill the job
    # (ADVICE r7).
    _corrupt = (ValueError, KeyError, IndexError, struct.error, zlib.error)

    native = _decoder_snapshot()  # adapters bind at plan build

    def row(doc_id, payload, meta):
        try:
            yield doc_id, "ok", len(_decode_any(native, payload, meta)), ""
        except NotImplementedError:
            yield doc_id, "unsupported_format", 0, ""
        except _corrupt as exc:
            yield doc_id, "corrupt", 0, type(exc).__name__

    return _row_map(media_df, _MEDIA, row,
                    "doc_id long, status string, n_bytes long, error_class string")


def q_multimodal_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically corrupt a known subset (doc_id % 7 == 0 gets
    its signature clobbered; doc_id % 11 == 0 claims an unsupported
    format) and report per-status counts — the oracle predicts the
    split from the id arithmetic alone, so the codecs' rejection
    paths are part of the hash.

    doc_id % 5 == 0 carries a REAL JPEG payload instead of a PNG
    (round 7) — the quarantine-to-green conversion: before the stdlib
    JPEG codec these rows were only expressible as
    ``unsupported_format``; now they must decode ``ok`` (to 64 pixel
    bytes), and the % 7 corruption/% 11 format clobbers must still
    quarantine them like any other payload.  Each document is encoded
    once, in the one format its id picks."""
    docs = _documents(spark, sf_dir)
    is_jpeg = F.col("doc_id") % 5 == 0
    media = attach_jpeg_media(docs.filter(is_jpeg)).unionByName(
        attach_png_media(docs.filter(~is_jpeg)))
    media = media.withColumn(
        "media",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(b"XXXX"), F.substring("media", 5, 1 << 24)),
        ).otherwise(F.col("media")),
    ).withColumn(
        "media_meta",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.struct(
                F.lit("mp4").alias("format"),
                F.col("media_meta.width").alias("width"),
                F.col("media_meta.height").alias("height"),
                F.col("media_meta.n_frames").alias("n_frames"),
            ),
        ).otherwise(F.col("media_meta")),
    )
    return (
        decode_with_quarantine(media)
        .groupBy("status")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
        )
    )


# doc_id % 11 wins over % 7 (format check precedes signature parse);
# % 5 docs decode to the 8x8 JPEG block, everything else to the
# 16x16 PNG — both REAL codecs, so 'ok' byte counts differ by class.
ORACLE_QUARANTINE = f"""
SELECT CASE WHEN doc_id % 11 = 0 THEN 'unsupported_format'
            WHEN doc_id % 7 = 0 THEN 'corrupt'
            ELSE 'ok' END AS status,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN doc_id % 11 <> 0 AND doc_id % 7 <> 0
                     THEN CASE WHEN doc_id % 5 = 0
                               THEN {JPEG_W * JPEG_H}
                               ELSE {PNG_W * PNG_H} END
                     ELSE 0 END) AS BIGINT) AS total_bytes
FROM documents
GROUP BY 1
"""


def q_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard round trip, in memory: each Arrow batch of
    documents packs into one tar shard (deterministic metadata, stdlib
    tarfile), the shard is parsed back, and each recovered member is
    witnessed by md5 + the doc_id parsed from its member name.  The
    oracle computes md5(text) directly — a byte error anywhere in the
    tar framing or payload breaks the hash.  (sources/webdataset.py
    carries the file-based reader/writer twins for real shards.)"""
    from grpc_map_reduce_spark.sources.webdataset import pack_tar, unpack_tar

    def shards(batches):
        import pyarrow as pa

        for batch in batches:
            members = [
                (f"{d:08d}.txt", t.encode())
                for d, t in zip(*(c.to_pylist() for c in batch.columns))
            ]
            if not members:
                continue
            recovered = unpack_tar(pack_tar(members))
            yield pa.RecordBatch.from_pydict({
                "doc_id": [int(name.split(".")[0]) for name, _ in recovered],
                "payload_md5": [hashlib.md5(p).hexdigest() for _, p in recovered],
                "payload_bytes": [len(p) for _, p in recovered],
            })

    return _documents(spark, sf_dir).select("doc_id", "text").mapInArrow(
        shards, "doc_id long, payload_md5 string, payload_bytes long")


ORACLE_WEBDATASET = """
SELECT doc_id,
       md5(text) AS payload_md5,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
FROM documents
"""


# --------------------------------------------------------------------------
# Spectrogram features — the first step of any audio-understanding
# pipeline (frame → window → DFT → per-frame spectral features).
# Frames are non-overlapping SPEC_FRAME-sample windows of the decoded
# PCM; per frame we emit integer energy, the dominant DFT bin (max
# power, DC excluded, ties to the lowest bin) and that bin's power.
#
# The DFT runs in FIXED POINT: twiddle factors are quantized to
# Q7 integers (round(cos·127)), so every bin power is an exact int64
# ((Σ x·c)² + (Σ x·s)², bounded by 2·(64·128·127)² ≈ 2.2e12) — the
# classic fixed-point DSP formulation, chosen here because it makes
# the whole spectrogram REPLAYABLE: the oracle inlines the identical
# twiddle table (generated by the same Python at registration time)
# and recomputes each bin with integer list arithmetic, upgrading
# this query from rows-only to a full value-hash check (VERDICT r4
# item 6).  Quantization costs <1% amplitude accuracy — irrelevant
# for a dominant-bin feature; a float-rfft variant would differ only
# in ties.  test_multimodal.py keeps an independent pure-Python gate
# plus a planted-sinusoid spot check.
#
# Scale: one media-kernel pass over the media column — Arrow-batched,
# one (n_frames×64)·(64×32) integer matmul per document (all of its
# frames at once), zero shuffle; the same shape as the other codec
# passes.
SPEC_FRAME = 64
SPEC_TW_SCALE = 127  # Q7 twiddles: keeps bin power well inside int64


def _spec_twiddles() -> tuple[list, list]:
    """Quantized DFT twiddle rows for bins 1..FRAME/2 (DC excluded):
    C[k-1][n] = round(cos(2πkn/F)·SCALE), S[k-1][n] the -sin twin."""
    import math

    C, S = [], []
    for k in range(1, SPEC_FRAME // 2 + 1):
        C.append([
            round(math.cos(2 * math.pi * k * n / SPEC_FRAME) * SPEC_TW_SCALE)
            for n in range(SPEC_FRAME)
        ])
        S.append([
            round(-math.sin(2 * math.pi * k * n / SPEC_FRAME) * SPEC_TW_SCALE)
            for n in range(SPEC_FRAME)
        ])
    return C, S


def audio_spectrogram(media_df: DataFrame) -> DataFrame:
    """(doc_id, frame_idx, frame_energy, dominant_bin, dominant_pow):
    the decoded PCM cut into non-overlapping ``SPEC_FRAME``-sample
    windows (a trailing partial window is dropped, so a payload shorter
    than one window yields no row); per window the integer energy
    Σ|s−128|, the dominant bin 1..SPEC_FRAME/2 of the fixed-point DFT
    (max power, ties to the lowest bin) and that bin's exact power."""
    import numpy as np

    frame = SPEC_FRAME
    C, S = (np.asarray(t, dtype=np.int64) for t in _spec_twiddles())  # (F/2, F)

    native = _decoder_snapshot()  # adapters bind at plan build

    def row(doc_id, payload, meta):
        raw = _decode_any(native, payload, meta)
        s = np.frombuffer(raw, np.uint8).astype(np.int64) - 128
        n_frames = len(s) // frame
        if not n_frames:
            return
        # all frames in ONE matmul (round 9): identical int64
        # arithmetic to the per-frame form, argmax-along-axis keeps
        # the first-max/lowest-bin tie rule
        segs = s[:n_frames * frame].reshape(n_frames, frame)
        re = segs @ C.T  # (n_frames, F/2)
        im = segs @ S.T
        p = re * re + im * im
        j = p.argmax(axis=1)
        pick = p[np.arange(n_frames), j]
        energy = np.abs(segs).sum(axis=1)
        for i in range(n_frames):
            yield doc_id, i, int(energy[i]), int(j[i]) + 1, int(pick[i])

    return _row_map(media_df, _MEDIA, row,
                    "doc_id long, frame_idx long, frame_energy long, "
                    "dominant_bin long, dominant_pow long")


# --------------------------------------------------------------------------
# Audio downsampling — the rate-conversion step every audio pipeline
# runs before feature extraction (16 kHz mono is the ASR/codec
# lingua franca).  Integer decimation by 2 with a 2-tap mean
# anti-aliasing filter: out[i] = (s[2i] + s[2i+1]) DIV 2 on the
# unsigned byte domain — exact integer math, so the resampled wave,
# its re-encoded WAV container, and the decoded-again samples all
# hash-check (the audio analog of the PNG resize round trip).
AUDIO_DECIM = 2


def downsample_audio(media_df: DataFrame) -> DataFrame:
    """(doc_id, n_samples, rate, wave_md5): decimate PCM by
    ``AUDIO_DECIM`` (block mean), re-encode as a real WAV at the
    decimated rate, decode again, and hash the round-tripped samples."""
    factor = AUDIO_DECIM
    import numpy as np

    native = _decoder_snapshot()  # adapters bind at plan build

    def row(doc_id, payload, meta):
        raw = _decode_any(native, payload, meta)
        s = np.frombuffer(raw, np.uint8).astype(np.int64)
        n = (len(s) // factor) * factor
        out = (s[:n].reshape(-1, factor).sum(axis=1) // factor).astype(np.uint8)
        back = decode_wav(encode_wav(WAV_RATE // factor, 1, 8, out.tobytes()))[3]
        yield doc_id, len(back), WAV_RATE // factor, hashlib.md5(back).hexdigest()

    return _row_map(media_df, _MEDIA, row,
                    "doc_id long, n_samples long, rate long, wave_md5 string")


def q_multimodal_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return downsample_audio(attach_wav_media(_documents(spark, sf_dir)))


# Oracle: block means on character codes; the decimated bytes stay in
# the source's ASCII range (means of ASCII bytes), so md5 over the
# chr() string equals md5 over the bytes.
ORACLE_AUDIO_DOWNSAMPLE = f"""
WITH pix AS (
    SELECT doc_id,
           rpad(substring(text, 1, {WAV_N}), {WAV_N}, ' ') AS p
    FROM documents
),
wave AS (
    SELECT doc_id,
           array_to_string(
               list_transform(range(0, {WAV_N // AUDIO_DECIM}), i ->
                   chr(CAST((ascii(substr(p, i * {AUDIO_DECIM} + 1, 1))
                             + ascii(substr(p, i * {AUDIO_DECIM} + 2, 1)))
                            // {AUDIO_DECIM} AS INTEGER))),
               '') AS w
    FROM pix
)
SELECT doc_id,
       CAST({WAV_N // AUDIO_DECIM} AS BIGINT) AS n_samples,
       CAST({WAV_RATE // AUDIO_DECIM} AS BIGINT) AS rate,
       md5(w) AS wave_md5
FROM wave
"""


def q_multimodal_spectrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audio_spectrogram(attach_wav_media(_documents(spark, sf_dir)))


def _spectrogram_oracle() -> str:
    """DuckDB replay of the fixed-point spectrogram: the SAME Python
    that feeds the Spark kernel its twiddle table inlines it here as
    an integer matrix literal, so both engines run identical exact
    integer arithmetic — no float DFT, no rounding boundary."""
    C, S = _spec_twiddles()

    def lit(m):
        return "[" + ",".join(
            "[" + ",".join(str(v) for v in row) + "]" for row in m
        ) + "]"

    nf = WAV_N // SPEC_FRAME
    return f"""
WITH pix AS (
    SELECT doc_id, rpad(substring(text, 1, {WAV_N}), {WAV_N}, ' ') AS p
    FROM documents
),
sm AS (
    SELECT doc_id,
           list_transform(range(1, {WAV_N} + 1),
                          i -> ascii(substr(p, i, 1)) - 128) AS s
    FROM pix
),
fr AS (
    SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
           list_slice(s, f * {SPEC_FRAME} + 1, (f + 1) * {SPEC_FRAME}) AS seg
    FROM sm, (SELECT unnest(range(0, {nf})) AS f)
),
tw AS (SELECT {lit(C)} AS c, {lit(S)} AS sn),
bins AS (
    SELECT doc_id, frame_idx, seg, k,
           list_sum(list_transform(range(1, {SPEC_FRAME} + 1),
                                   n -> seg[n] * c[k][n])) AS re,
           list_sum(list_transform(range(1, {SPEC_FRAME} + 1),
                                   n -> seg[n] * sn[k][n])) AS im
    FROM fr, tw, (SELECT unnest(range(1, {SPEC_FRAME} // 2 + 1)) AS k)
),
dom AS (
    SELECT doc_id, frame_idx, seg, k, re * re + im * im AS p,
           row_number() OVER (PARTITION BY doc_id, frame_idx
                              ORDER BY re * re + im * im DESC, k) AS rn
    FROM bins
)
SELECT doc_id, frame_idx,
       CAST(list_sum(list_transform(seg, x -> abs(x))) AS BIGINT)
           AS frame_energy,
       CAST(k AS BIGINT) AS dominant_bin,
       CAST(p AS BIGINT) AS dominant_pow
FROM dom WHERE rn = 1
"""


ORACLE_SPECTROGRAM = _spectrogram_oracle()


# --------------------------------------------------------------------------
# Perceptual-hash (dHash) image dedup — the image-side analog of the
# text near-dup family: decode → 9×7 nearest-neighbor thumbnail →
# 56-bit gradient hash (bit = left pixel < right pixel) → LSH-banded
# candidate pairs → exact Hamming rescore.  56 bits (not the classic
# 64) keeps the hash in non-negative int64 range on both engines.
# 4 bands × 14 bits guarantee every pair with Hamming ≤ 3 shares a
# clean band (pigeonhole); candidates rescore by bit_count(xor).
#
# Scale: hashing is map-only over decoded media and runs once; the
# O(images × 4) band rows are exchanged once into bucket arrays whose
# pairs are enumerated in-task (``dedup.bucket_pairs``) — the same
# sub-quadratic shape as the MinHash text path, never all-pairs.
DHASH_W, DHASH_H = 9, 7
DHASH_BITS = (DHASH_W - 1) * DHASH_H  # 56
DHASH_BANDS = 4
DHASH_BAND_BITS = DHASH_BITS // DHASH_BANDS  # 14
DHASH_HAMMING_MAX = 8
#: Hot-bucket guard, ON by default and oracle-mirrored.  dHash of
#: low-entropy media (text thumbnails, boilerplate images, blank
#: frames) COLLAPSES: the round-8 125x probe measured 625 K images
#: with only 80 746 distinct hashes, a 163 646-row band bucket, and
#: 98.8 % of the 16.0e9 candidate pairs inside 43 buckets > 1000 —
#: the registered query ran 21.6x per 5x data (252 s) before the
#: guard.  Members of a mega-bucket are exact/near-exact dups of one
#: another (hamming 0 within an identical-hash bucket) and belong to
#: the exact-dup pass, same rationale as dedup.LSH_MAX_BUCKET_DEFAULT.
DHASH_MAX_BUCKET_DEFAULT = 1000


def dhash_images(media_df: DataFrame) -> DataFrame:
    """(doc_id, dhash) — 56-bit gradient hash of each decoded image."""
    import numpy as np

    def row(doc_id, payload):
        w0, h0, ch, pix = decode_png(_payload(payload))
        rp = _resize_pixels(pix, w0, h0, ch, DHASH_W, DHASH_H)
        a = np.frombuffer(rp, np.uint8).reshape(DHASH_H, DHASH_W)
        v = 0
        for bit in (a[:, :-1] < a[:, 1:]).flatten():
            v = (v << 1) | int(bit)
        yield doc_id, v

    return _row_map(media_df, ["doc_id", "media"], row, "doc_id long, dhash long")


def phash_near_dup_pairs(media_df: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming) for banded-candidate image pairs within
    ``DHASH_HAMMING_MAX``.

    Band buckets above :data:`DHASH_MAX_BUCKET_DEFAULT` members are
    dropped (the hot-bucket skew guard; see the constant for the
    measured 125x blowup it prevents), as in the oracle's HAVING
    filter."""
    bands = F.array(*[
        F.struct(
            F.lit(j).alias("band_idx"),
            F.shiftright("dhash", j * DHASH_BAND_BITS)
            .bitwiseAND(F.lit((1 << DHASH_BAND_BITS) - 1)).alias("key"),
        )
        for j in range(DHASH_BANDS)
    ])
    exploded = (
        dhash_images(media_df)
        .select("doc_id", "dhash", F.explode(bands).alias("b"))
        .select("doc_id", "dhash", "b.band_idx", "b.key")
    )
    # The hash rides in the member struct, so the rescore needs no
    # join back to the signatures.
    cand = (
        bucket_pairs(exploded, ["band_idx", "key"],
                     F.struct("doc_id", "dhash"), DHASH_MAX_BUCKET_DEFAULT)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long"),
        )
        .filter(F.col("hamming") <= DHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


def q_multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return phash_near_dup_pairs(attach_png_media(_documents(spark, sf_dir)))


# The oracle rebuilds the 9×7 thumbnail from text with the resize
# floor mapping (as ORACLE_PNG_RESIZE), derives the 56-bit hash from
# character-code comparisons, and replays the band join + Hamming
# rescore — DuckDB never decodes a PNG.  Its `bands` HAVING filter
# twins the Spark side's hot-bucket guard, which is `bucket_pairs`'
# bucket-size filter; the SQL comment's "broadcast anti-join" names
# the guard's older form and is left as is, because the oracle text
# is kept byte-identical.
_DHASH_SQL_BANDS = "\n        UNION ALL ".join(
    f"SELECT doc_id, dhash, {j} AS band_idx, "
    f"(dhash >> {j * DHASH_BAND_BITS}) & {(1 << DHASH_BAND_BITS) - 1} AS key "
    f"FROM sigs"
    for j in range(DHASH_BANDS)
)

ORACLE_PHASH_PAIRS = f"""
WITH pix AS (
    SELECT doc_id,
           rpad(substring(text, 1, {PNG_W * PNG_H}), {PNG_W * PNG_H}, ' ') AS p
    FROM documents
),
resized AS (
    SELECT doc_id,
           list_reduce(list_transform(range(0, {DHASH_W * DHASH_H}),
               i -> substr(p,
                           ((i // {DHASH_W}) * {PNG_H} // {DHASH_H}) * {PNG_W}
                           + ((i % {DHASH_W}) * {PNG_W} // {DHASH_W}) + 1,
                           1)),
               (a, b) -> a || b) AS rp
    FROM pix
),
sigs AS MATERIALIZED (
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, {DHASH_BITS}),
               i -> CASE WHEN ascii(substr(rp, (i // {DHASH_W - 1}) * {DHASH_W} + (i % {DHASH_W - 1}) + 1, 1))
                          < ascii(substr(rp, (i // {DHASH_W - 1}) * {DHASH_W} + (i % {DHASH_W - 1}) + 2, 1))
                    THEN (1::BIGINT << ({DHASH_BITS - 1} - i)) ELSE 0 END))
               AS BIGINT) AS dhash
    FROM resized
),
bands_all AS (
    {_DHASH_SQL_BANDS}
),
bands AS (
    -- hot-bucket guard twin: keep only band buckets of size <=
    -- DHASH_MAX_BUCKET_DEFAULT, exactly like the Spark side's
    -- broadcast anti-join (no fixture bucket is hot, but the oracle
    -- must be an exact twin under ANY data)
    SELECT b.* FROM bands_all b
    JOIN (SELECT band_idx, key FROM bands_all
          GROUP BY band_idx, key HAVING count(*) <= {DHASH_MAX_BUCKET_DEFAULT}) k
    ON b.band_idx = k.band_idx AND b.key = k.key
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.dhash AS ha, b.dhash AS hb
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key
                AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= {DHASH_HAMMING_MAX}
"""


QUERIES = [
    ("multimodal_phash_pairs", q_multimodal_phash_pairs, ORACLE_PHASH_PAIRS,
     "E4 multimodal: dHash perceptual-hash image near-dup — decode → "
     "9×7 thumbnail → 56-bit gradient hash → banded candidates → "
     "exact Hamming rescore; oracle replays it from character codes."),
    ("multimodal_spectrogram", q_multimodal_spectrogram, ORACLE_SPECTROGRAM,
     "E4 multimodal: framed fixed-point (Q7 twiddle) DFT spectrogram "
     "over decoded PCM — exact integer bin powers, FULLY hash-checked "
     "(the oracle replays the identical inlined twiddle table)."),
    ("webdataset_roundtrip", q_webdataset_roundtrip, ORACLE_WEBDATASET,
     "WebDataset tar-shard round trip: pack each Arrow batch into a "
     "tar, parse it back, md5-witness every member against the "
     "source text."),
    ("multimodal_features", q_multimodal_features, ORACLE_MULTIMODAL,
     "E4 multimodal: binary media column → decode stub → md5 features."),
    ("multimodal_frame_sample", q_multimodal_frame_sample, ORACLE_FRAME_SAMPLE,
     "E4 multimodal: every-4th frame sampling; frames witnessed by md5."),
    ("multimodal_png_decode", q_multimodal_png_decode, ORACLE_PNG_DECODE,
     "E4 multimodal: REAL stdlib PNG codec round-trip (Paeth-filtered "
     "encode → chunk/inflate/unfilter decode), hash-checked against an "
     "oracle that computes the expected pixels without ever seeing a PNG."),
    ("multimodal_jpeg_decode", q_multimodal_jpeg_decode, ORACLE_JPEG_DECODE,
     "E4 multimodal: REAL stdlib baseline-JPEG codec round-trip "
     "(fixed-point DCT + Annex-K Huffman encode → marker/Huffman/"
     "IDCT decode) — lossy but deterministically so, hash-checked "
     "against an oracle that replays the integer DCT pipeline in SQL "
     "without ever seeing a JPEG."),
    ("multimodal_png_resize", q_multimodal_png_resize, ORACLE_PNG_RESIZE,
     "E4 multimodal: real image resize — decode, nearest-neighbor "
     "resample, re-encode, decode again; the oracle rebuilds the "
     "resized pixel string with the same floor mapping."),
    ("multimodal_augment", q_multimodal_augment, ORACLE_AUGMENT,
     "E4 multimodal: deterministic image augmentation (center crop → "
     "hflip → darken) through the REAL PNG codec twice — decode, "
     "pixel ops, re-encode, re-decode — md5-witnessed against pure "
     "character arithmetic."),
    ("multimodal_audio_downsample", q_multimodal_downsample,
     ORACLE_AUDIO_DOWNSAMPLE,
     "E4 multimodal: integer audio rate conversion — decimate-by-2 "
     "with block-mean anti-aliasing, re-encode as a real WAV at the "
     "halved rate, decode again, md5-witness the round trip."),
    ("multimodal_wav_features", q_multimodal_wav_features, ORACLE_WAV_FEATURES,
     "E4 multimodal: real audio — RIFF/PCM WAV encode→parse round "
     "trip with integer signal features (energy, peak, zero "
     "crossings), hash-checked against character-code math."),
    ("multimodal_gif_frames", q_multimodal_gif_frames, ORACLE_GIF_FRAMES,
     "E4 multimodal: real video-style frame sampling — animated GIF "
     "encode (LZW) → container parse + decode → every-2nd frame, "
     "md5-witnessed against text-derived expected frames."),
    ("multimodal_quarantine", q_multimodal_quarantine, ORACLE_QUARANTINE,
     "E4 ingest robustness: corrupt/unsupported payloads become "
     "quarantine rows, never job failures; the codecs' rejection "
     "paths are part of the hash."),
]
