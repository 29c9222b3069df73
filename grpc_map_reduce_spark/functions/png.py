"""Minimal PNG codec on the stdlib and numpy — the real-media half of
extension E4.

The container has no PIL/ffmpeg and installs are off-limits, but PNG
is a fully public spec (W3C PNG / RFC 2083) whose only compression
primitive is DEFLATE — which the Python standard library ships as
``zlib``.  So the "decode is stubbed" limitation of earlier rounds is
lifted for PNG: this module parses the chunk stream, inflates the
IDAT payload, and reverses the five scanline filters (None / Sub /
Up / Average / Paeth) exactly per spec §6, producing raw pixel bytes.

Scope (asserted, not silently wrong): 8-bit samples, color types
0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA), non-interlaced.  That
covers everything a thumbnail/feature pipeline emits; exotic inputs
(16-bit, palette, Adam7) raise ``ValueError`` with the offending
field named.

The encoder exists for fixtures and tests; ``filter_type`` selects
which scanline filter to apply so tests can exercise every decoder
branch (a filter-0-only encoder would leave Sub/Up/Average/Paeth
untested).

These run inside Arrow batches on executors (multimodal.py's media
row kernel, one ``mapInArrow`` pass); per-image Python looping is the
accepted cost of a dependency-free codec and is bounded by the Arrow
batch size.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: color type → samples per pixel
CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §6.6)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG byte string → ``(width, height, channels, pixels)``
    with ``pixels`` as row-major interleaved 8-bit samples."""
    if data[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, idat = 8, None, []
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated chunk header")
        (length,), ctype = struct.unpack(">I", data[pos:pos + 4]), data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated chunk body")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # header + body + CRC
    if ihdr is None:
        raise ValueError("missing IHDR")
    width, height, depth, color, comp, filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"unsupported bit depth {depth} (8 only)")
    if color not in CHANNELS:
        raise ValueError(f"unsupported color type {color}")
    if comp != 0 or filt != 0:
        raise ValueError("unsupported compression/filter method")
    if interlace != 0:
        raise ValueError("Adam7 interlacing unsupported")

    ch = CHANNELS[color]
    stride = width * ch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != (stride + 1) * height:
        raise ValueError("IDAT size mismatch")

    out = bytearray(stride * height)
    # Round-9 unfilter fast paths, bit-exact by construction (gated in
    # test_png.py::test_fast_unfilter_matches_reference_all_filters):
    #   * None/Sub/Up rows vectorize in numpy — Sub's recurrence
    #     x_i = (r_i + x_{i-ch}) mod 256 is a per-lane prefix sum mod
    #     256, Up is one wrapping uint8 add against the previous row;
    #   * Average/Paeth rows are inherently sequential (each byte
    #     depends on the RECONSTRUCTED left byte), so they stay in
    #     Python with the predictor inlined (pa = |b-c|, pb = |a-c|,
    #     pc = |a+b-2c| — the p-form differences, no function call,
    #     ~2x) — the same per-row structure libpng uses.
    prev_start = -1  # start of previous unfiltered scanline in `out`
    for y in range(height):
        fbyte = raw[y * (stride + 1)]
        off = y * (stride + 1) + 1
        line = raw[off:off + stride]
        start = y * stride
        if fbyte == 0:  # None
            out[start:start + stride] = line
        elif fbyte == 1:  # Sub
            lanes = np.frombuffer(line, np.uint8).reshape(-1, ch)
            cur = (lanes.astype(np.int64).cumsum(axis=0) & 0xFF)
            out[start:start + stride] = cur.astype(np.uint8).reshape(-1).tobytes()
        elif fbyte == 2:  # Up
            cur = np.frombuffer(line, np.uint8).copy()
            if y:
                cur += np.frombuffer(
                    out, np.uint8, count=stride, offset=prev_start
                )  # uint8 add wraps mod 256
            out[start:start + stride] = cur.tobytes()
        elif fbyte == 3:  # Average — sequential in the left byte
            prev = out[prev_start:prev_start + stride] if y \
                else bytes(stride)
            for x in range(ch):
                out[start + x] = (line[x] + prev[x] // 2) & 0xFF
            for x in range(ch, stride):
                out[start + x] = (
                    line[x] + (out[start + x - ch] + prev[x]) // 2
                ) & 0xFF
        elif fbyte == 4:  # Paeth — sequential in the left byte
            prev = out[prev_start:prev_start + stride] if y \
                else bytes(stride)
            # first pixel: a = c = 0 → predictor reduces to b
            for x in range(ch):
                out[start + x] = (line[x] + prev[x]) & 0xFF
            for x in range(ch, stride):
                a = out[start + x - ch]
                b = prev[x]
                c = prev[x - ch]
                pa = b - c
                if pa < 0:
                    pa = -pa
                pb = a - c
                if pb < 0:
                    pb = -pb
                pc = a + b - 2 * c
                if pc < 0:
                    pc = -pc
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                out[start + x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad filter byte {fbyte} on row {y}")
        prev_start = start
    return width, height, ch, bytes(out)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + ctype + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, channels: int, pixels: bytes,
               filter_type: int = 0) -> bytes:
    """Encode raw 8-bit interleaved samples as a PNG.  ``filter_type``
    (0-4) is applied to every scanline — the inverse transforms of
    :func:`decode_png`, so any choice round-trips."""
    color = {1: 0, 3: 2, 2: 4, 4: 6}.get(channels)
    if color is None:
        raise ValueError(f"unsupported channel count {channels}")
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError("pixel buffer size mismatch")
    ch = channels
    filtered = bytearray()
    for y in range(height):
        row = pixels[y * stride:(y + 1) * stride]
        prev = pixels[(y - 1) * stride:y * stride] if y else bytes(stride)
        filtered.append(filter_type)
        for x in range(stride):
            a = row[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if (y and x >= ch) else 0
            if filter_type == 0:
                v = row[x]
            elif filter_type == 1:
                v = row[x] - a
            elif filter_type == 2:
                v = row[x] - (b if y else 0)
            elif filter_type == 3:
                v = row[x] - (a + (b if y else 0)) // 2
            elif filter_type == 4:
                v = row[x] - _paeth(a, b if y else 0, c)
            else:
                raise ValueError(f"bad filter type {filter_type}")
            filtered.append(v & 0xFF)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(filtered), 6))
        + _chunk(b"IEND", b"")
    )
