"""Minimal pure-stdlib GIF codec — the video/animation third of
extension E4's real-codec story (png.py: image, wav.py: audio).

GIF's only compression primitive is LZW with variable-width codes
(≤12 bits, LSB-first bit packing, 255-byte sub-blocks) — small enough
to implement exactly, no external library needed.  Scope: GIF89a,
8-bit grayscale global color table (palette index i = gray level i),
no interlace, no local color tables; extensions (0x21) are skipped on
read per spec.  Multi-frame (animated) streams are first-class — each
image block is one frame — which is what makes executor-side FRAME
SAMPLING a real container parse instead of a byte-chunking fake.

Code-width growth follows the giflib/Pillow convention: after
inserting dictionary entry ``next_code``, the width bumps when
``next_code`` reaches ``2^width`` (max 12); at 4096 the encoder emits
a CLEAR and resets.  Encoder and decoder are exact inverses
(round-trip property-tested).
"""

from __future__ import annotations

import struct

__all__ = ["decode_gif", "encode_gif"]

_MCS = 8  # min LZW code size for a 256-entry palette


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_encode(data: bytes) -> bytes:
    clear, end = 1 << _MCS, (1 << _MCS) + 1
    bw = _BitWriter()

    def reset():
        return {bytes([i]): i for i in range(1 << _MCS)}, end + 1, _MCS + 1

    table, next_code, width = reset()
    bw.write(clear, width)
    buf = b""
    for b in data:
        cand = buf + bytes([b])
        if cand in table:
            buf = cand
            continue
        bw.write(table[buf], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            bw.write(clear, width)
            table, next_code, width = reset()
        buf = bytes([b])
    if buf:
        bw.write(table[buf], width)
    bw.write(end, width)
    return bw.flush()


def _lzw_decode(data: bytes, mcs: int = _MCS) -> bytes:
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = pos = 0
    width = mcs + 1
    # the bit-read loop is inlined in the main loop and the table
    # length tracked as a plain int (round 9): the closure call + two
    # len() per code were ~45% of decode time on real-size frames
    base_table = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
    table = base_table[:]
    tlen = len(table)
    prev: bytes | None = None
    n = len(data)

    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        mask_code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        code = mask_code
        if code == end:
            break
        if code == clear:
            table = base_table[:]
            tlen = len(table)
            width = mcs + 1
            prev = None
            continue
        if code < tlen:
            entry = table[code]
        elif code == tlen and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"corrupt LZW stream: code {code}")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            tlen += 1
            # the decoder's table lags the encoder's by one entry at
            # read time, so the width bump lands one entry early
            if tlen == (1 << width) - 1 and width < 12:
                width += 1
        prev = entry
    return bytes(out)


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif(width: int, height: int, frames: list) -> bytes:
    """Encode 8-bit grayscale frames (each ``width*height`` bytes) as
    an animated GIF89a with a 256-gray global palette."""
    if not frames:
        raise ValueError("need at least one frame")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | 0x70 | 0x07, 0, 0])  # GCT, 8-bit res, 256 entries
    for i in range(256):
        out += bytes([i, i, i])
    for fr in frames:
        if len(fr) != width * height:
            raise ValueError("frame size mismatch")
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        out += bytes([_MCS]) + _sub_blocks(_lzw_encode(fr))
    out += b"\x3b"
    return bytes(out)


def decode_gif(data: bytes) -> tuple[int, int, list]:
    """Decode a GIF → ``(width, height, frames)`` with each frame the
    raw 8-bit palette-index (== gray level) bytes."""
    if data[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("not a GIF: bad signature")
    width, height = struct.unpack("<HH", data[6:10])
    packed = data[10]
    pos = 13
    if packed & 0x80:  # global color table present
        pos += 3 * (2 << (packed & 0x07))
    frames = []
    while pos < len(data):
        block = data[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks, skip
            pos += 2
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            _l, _t, fw, fh = struct.unpack("<HHHH", data[pos + 1:pos + 9])
            fpacked = data[pos + 9]
            if fpacked & 0x40:
                raise ValueError("interlaced GIF unsupported")
            if fpacked & 0x80:
                raise ValueError("local color tables unsupported")
            pos += 10
            mcs = data[pos]
            pos += 1
            lzw = bytearray()
            while data[pos] != 0:
                n = data[pos]
                lzw += data[pos + 1:pos + 1 + n]
                pos += 1 + n
            pos += 1
            fr = _lzw_decode(bytes(lzw), mcs)
            if len(fr) != fw * fh:
                raise ValueError("frame pixel count mismatch")
            frames.append(fr)
        else:
            raise ValueError(f"unknown block 0x{block:02x}")
    if not frames:
        raise ValueError("no image data")
    return width, height, frames
