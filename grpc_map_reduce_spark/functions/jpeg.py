"""Minimal pure-stdlib baseline-JPEG codec — closing the most-hit
multimodal boundary (VERDICT r6 item 6): real corpora are mostly
JPEG, and the container has no PIL/libjpeg.

Everything here is the public ITU-T T.81 spec: marker segments
(SOI/APPn/DQT/SOF0/DHT/DRI/SOS/RSTn/EOI), canonical Huffman coding
with the Annex K table layout, zig-zag coefficient order, DC
prediction, and an 8x8 block DCT.  In the style of the PNG/GIF/WAV
codecs (functions/png.py rationale), scope is asserted rather than
silently wrong: SEQUENTIAL (SOF0/1) and PROGRESSIVE (SOF2, Annex G
— spectral selection + successive approximation, multi-scan) frames,
8-bit precision, 1 or 3 components, integral sampling ratios — which
covers 4:4:4, 4:2:2, 4:4:0 and the dominant real-world 4:2:0 layout
(chroma upsampled by replication).  Hierarchical/lossless frames,
12-bit precision, and arithmetic coding raise ``ValueError`` naming
the offending field.  Validated against real libjpeg-encoded
photographs (the Spark distro's mllib sample images — all 8 decode,
incl. 3 progressive; a sequential-color / progressive-gray pair of
the SAME photo cross-agrees within ~3 luma levels).

EXACTNESS DESIGN (what makes the registered query hash-checkable):
the DCT and IDCT run in fixed-point INTEGER arithmetic — the 8x8
basis is pre-scaled to integers (``BASIS_INT``, 2^13) and all sums
and the quantizer's round-half-away-from-zero division are exact
int64 ops, so the lossy stage is bit-reproducible in ANY engine that
can do integer math.  The DuckDB oracle replays pixels -> integer
DCT -> quantize -> dequantize -> integer IDCT (the SAME integer
constants are formatted into the SQL from this module); the Huffman
bitstream layer is lossless, so the oracle never needs to parse a
JPEG — exactly the PNG-oracle philosophy.  T.81 deliberately does
NOT mandate a bit-exact IDCT, so a fixed-point implementation is a
spec-conforming decoder, and the files this encoder writes are
ordinary baseline JPEGs any decoder can read.

Per-image Python looping is the accepted cost of a dependency-free
codec, bounded by the Arrow batch size (multimodal.py's media row
kernel, one ``mapInArrow`` pass).
"""

from __future__ import annotations

import math
import struct

# --------------------------------------------------------------------------
# Public-spec constant tables
# --------------------------------------------------------------------------

#: zig-zag position -> natural (row-major) index, T.81 Figure 5.
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: Annex K.1 luminance quantization table (natural order).
QUANT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

#: Annex K.2 chrominance quantization table (natural order).
QUANT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K.3 typical Huffman tables: (BITS[1..16], HUFFVAL).  The
# encoder WRITES these into DHT and the decoder builds its tables
# from the file, so encoder and decoder are self-consistent by
# construction; using the standard tables additionally matches what
# real-world encoders emit.
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# --------------------------------------------------------------------------
# Fixed-point DCT basis — THE exactness contract
# --------------------------------------------------------------------------

#: log2 of the basis scale; one basis factor carries 2^13, a 2-D
#: basis product carries 2^26 (``DCT_SCALE``).
BASIS_SHIFT = 13
DCT_SCALE = 1 << (2 * BASIS_SHIFT)

#: BASIS_INT[u*8+x] = round(2^13 * alpha(u)/2 * cos((2x+1)u*pi/16)).
#: Folding alpha/2 into the basis makes BOTH transforms a plain
#: double sum: F[v][u] = sum BASIS[v][y]*BASIS[u][x]*s[y][x] and
#: s'[y][x] = sum BASIS[v][y]*BASIS[u][x]*Fq[v][u] / 2^26.  The
#: integers below are computed once here and string-formatted into
#: the DuckDB oracle, so no engine ever re-derives a cosine.
BASIS_INT = [
    round(
        (1 << BASIS_SHIFT)
        * ((1 / math.sqrt(2)) if u == 0 else 1.0) / 2.0
        * math.cos((2 * x + 1) * u * math.pi / 16.0)
    )
    for u in range(8)
    for x in range(8)
]


def _rdiv(a: int, d: int) -> int:
    """Round-half-away-from-zero integer division (d > 0) — the one
    rounding rule both the quantizer and the IDCT descale use, chosen
    because it is a single CASE expression in SQL."""
    if a >= 0:
        return (a + d // 2) // d
    return -((-a + d // 2) // d)


# Optional numpy fast path for the vectorizable stages (batched IDCT,
# plane assembly, chroma upsample + color convert).  EXACT-EQUALITY
# twin of the pure-stdlib loops, not an approximation: every
# intermediate is int64 (max |acc| < 2^52, headroom checked below),
# numpy's floor division matches Python's, and the same
# round-half-away-from-zero descale is applied — gated bit-for-bit
# against the stdlib path in tests/test_jpeg.py.  The stdlib loops
# remain both the fallback and the documentation the DuckDB oracle
# mirrors.
try:
    import numpy as _np

    #: BASIS as an (u, x) int64 matrix for einsum use.
    _BASIS_NP = None  # populated lazily after BASIS_INT is defined
except ImportError:  # pragma: no cover - numpy is baked into the env
    _np = None


def _rdiv_np(a, d: int):
    """Vectorized :func:`_rdiv` (d > 0 scalar)."""
    h = d // 2
    return _np.where(a >= 0, (a + h) // d, -((-a + h) // d))


def _basis_np():
    global _BASIS_NP
    if _BASIS_NP is None:
        _BASIS_NP = _np.array(BASIS_INT, dtype=_np.int64).reshape(8, 8)
    return _BASIS_NP


def _fdct_grid_np(plane, pw: int, ph: int, nbx: int, nby: int,
                  quant: list[int]):
    """Batched edge-replicated block extraction + forward DCT +
    quantization: exact twin of ``_block_at`` + :func:`_fdct_quant`
    over the whole (nby, nbx) block grid.  Returns (nby, nbx, 64)
    int64 natural-order coefficients."""
    B = _basis_np()
    p = _np.asarray(plane, dtype=_np.int64).reshape(ph, pw)
    yi = _np.minimum(_np.arange(nby * 8), ph - 1)
    xi = _np.minimum(_np.arange(nbx * 8), pw - 1)
    padded = p[yi[:, None], xi[None, :]]
    s = (
        padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8) - 128
    )
    tmp = _np.einsum("vy,nyx->nvx", B, s)
    f = _np.einsum("ux,nvx->nvu", B, tmp)
    q = _np.asarray(quant, dtype=_np.int64).reshape(8, 8) * DCT_SCALE
    return _rdiv_np(f, q).reshape(nby, nbx, 64)


def _idct_grid_np(blocks, quant: list[int]):
    """Batched dequantize + inverse DCT: ``blocks`` (n, 64) int64
    natural-order coefficients -> (n, 64) uint8 levels.  Same integer
    math as :func:`_dequant_idct`, n blocks at once."""
    _basis_np()
    dq = (blocks * _np.array(quant, dtype=_np.int64)).reshape(-1, 8, 8)
    # tmp[y][u] = sum_v B[v][y] * dq[v][u];  acc[y][x] = sum_u B[u][x] * tmp[y][u]
    tmp = _np.einsum("vy,nvu->nyu", _BASIS_NP, dq)
    acc = _np.einsum("ux,nyu->nyx", _BASIS_NP, tmp)
    out = _rdiv_np(acc, DCT_SCALE) + 128
    return _np.clip(out, 0, 255).astype(_np.uint8).reshape(-1, 64)


def _fdct_quant(samples: list[int], quant: list[int]) -> list[int]:
    """Forward fixed-point DCT + quantization of one 8x8 block.

    ``samples``: 64 levels in [0, 255], row-major.  Returns 64
    quantized coefficients in natural order."""
    s = [v - 128 for v in samples]
    # rows then columns, all integer
    tmp = [0] * 64
    for v in range(8):
        bv = BASIS_INT[v * 8:v * 8 + 8]
        for x in range(8):
            tmp[v * 8 + x] = sum(bv[y] * s[y * 8 + x] for y in range(8))
    out = [0] * 64
    for v in range(8):
        for u in range(8):
            bu = BASIS_INT[u * 8:u * 8 + 8]
            f = sum(bu[x] * tmp[v * 8 + x] for x in range(8))
            out[v * 8 + u] = _rdiv(f, quant[v * 8 + u] * DCT_SCALE)
    return out


def _dequant_idct(coefs: list[int], quant: list[int]) -> list[int]:
    """Dequantize + inverse fixed-point DCT -> 64 clamped levels."""
    dq = [coefs[i] * quant[i] for i in range(64)]
    tmp = [0] * 64
    for y in range(8):
        for u in range(8):
            tmp[y * 8 + u] = sum(
                BASIS_INT[v * 8 + y] * dq[v * 8 + u] for v in range(8)
            )
    out = [0] * 64
    for y in range(8):
        for x in range(8):
            acc = sum(
                BASIS_INT[u * 8 + x] * tmp[y * 8 + u] for u in range(8)
            )
            out[y * 8 + x] = min(255, max(0, _rdiv(acc, DCT_SCALE) + 128))
    return out


# --------------------------------------------------------------------------
# Huffman machinery
# --------------------------------------------------------------------------

def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length) per the canonical assignment (T.81
    Annex C): codes of each length are consecutive, starting from
    double the previous length's end."""
    if sum(bits) != len(vals):
        raise ValueError("Huffman BITS/HUFFVAL length mismatch")
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 B.1.1.5)
                self.buf.append(0x00)
        # trim drained bytes off the accumulator — without this it
        # retains every bit ever written and each shift becomes
        # big-int arithmetic over the whole stream (the writer twin of
        # the round-9 decoder accumulator fix)
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # fill bits are 1s (B.1.1.5)

    def raw(self, b: bytes) -> None:
        """Append marker bytes verbatim (markers are never stuffed)."""
        assert self.nbits == 0, "raw() requires byte alignment"
        self.buf += b

    def flush(self) -> bytes:
        self.pad_to_byte()
        return bytes(self.buf)


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00
    unstuffing; restart markers are surfaced to the caller."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated entropy-coded segment")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise ValueError("unexpected marker inside scan data")
        else:
            self.pos += 1
        # mask consumed high bits BEFORE shifting: without the trim,
        # acc accumulates the entire entropy stream (measured 180 kbit
        # on a 300x311 photo) and every bit extraction becomes ~20 KB
        # big-int arithmetic — the single largest decode cost found in
        # round 9
        self.acc = ((self.acc & ((1 << self.nbits) - 1)) << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        # bulk variant of n x bit(): same bit order and the same
        # marker/restart behavior on valid streams (a marker mid-
        # receive is a corrupt stream and raises either way)
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def align_and_skip_rst(self) -> None:
        """Consume a restart marker at the current byte boundary."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        if self.pos + 1 < len(d) and d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
            self.pos += 2
        else:
            raise ValueError("expected restart marker")


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


class _HuffLUT:
    """Huffman table with an 8-bit lookahead array — the classic
    libjpeg HUFF_LOOKAHEAD technique (public jdhuff.c design, also
    T.81 Annex F note on table-driven decoders): ``lut[next8bits]``
    packs ``(code_length << 8) | symbol`` for every code of <= 8
    bits (0 = longer code / invalid), so the overwhelmingly common
    short codes decode with ONE list index instead of a per-bit tree
    walk.  ``by_len`` keeps the exact per-length dicts for the long
    -code fallback walk."""

    __slots__ = ("lut", "by_len", "lut16")

    def __init__(self, by_len: list[dict[int, int]]) -> None:
        self.by_len = by_len
        lut = [0] * 256
        for length in range(1, 9):
            shift = 8 - length
            tag = length << 8
            for code, v in by_len[length].items():
                base = code << shift
                e = tag | v
                for i in range(base, base + (1 << shift)):
                    lut[i] = e
        self.lut = lut
        # second level for >8-bit codes, built LAZILY on first miss
        # (see ensure_lut16): eager build costs ~3 ms/table, which a
        # thumbnail whose scan never emits a long code should not pay;
        # real photos hit the miss once and amortize via the content
        # cache
        self.lut16: list[int] | None = None

    def ensure_lut16(self) -> list[int]:
        """Full 16-bit-lookahead table: lut16[peek16] packs
        ``(length << 8) | symbol`` for EVERY code (1..16 bits), 0 only
        for invalid prefixes — one list index resolves any symbol.

        Retention is bounded SEPARATELY from the first-level cache
        (ADVICE r9): `_HUFF_LUT_CACHE`'s 512-entry cap was sized for
        256-entry first-level LUTs, but each lazily-built lut16 is
        65536 entries (~0.5 MB) — 512 of them would pin ~250 MB per
        executor Python worker for the process lifetime.  An LRU of
        :data:`_LUT16_MAX` holders keeps the hot tables resident and
        drops the oldest-built lut16 (NOT the table itself — the
        8-bit level and exact walk stay valid; an evicted table just
        pays the ~3 ms rebuild on its next long code).  Build-order
        FIFO, not LRU: an LRU touch would tax every >8-bit-code
        decode, and real corpora hold ≤4 live tables so eviction
        never fires outside the adversarial case."""
        if self.lut16 is None:
            lut16 = [0] * 65536
            for length in range(1, 17):
                shift = 16 - length
                tag = length << 8
                for code, v in self.by_len[length].items():
                    base = code << shift
                    e = tag | v
                    for i in range(base, base + (1 << shift)):
                        lut16[i] = e
            self.lut16 = lut16
            _LUT16_HOLDERS.append(self)
            while len(_LUT16_HOLDERS) > _LUT16_MAX:
                _LUT16_HOLDERS.popleft().lut16 = None
        return self.lut16


#: DHT-content-keyed LUT cache: real corpora overwhelmingly reuse the
#: T.81 Annex K tables, so an executor builds each 256-entry table
#: once per process, not once per image.  Bounded — adversarial
#: corpora with per-image custom tables just stop caching.
_HUFF_LUT_CACHE: dict[bytes, _HuffLUT] = {}
_HUFF_LUT_CACHE_MAX = 512

#: Bound on RESIDENT second-level (65536-entry, ~0.5 MB) tables,
#: independent of the first-level cache above — see
#: :meth:`_HuffLUT.ensure_lut16` (ADVICE r9).  32 × 0.5 MB ≈ 16 MB
#: worst case per Python worker.
from collections import deque as _deque

_LUT16_HOLDERS: "_deque[_HuffLUT]" = _deque()
_LUT16_MAX = 32


def _huff_decode(reader: _BitReader, table: _HuffLUT) -> int:
    # fast path: peek 8 bits, one list index.  When fewer than 8 bits
    # remain before a marker/EOS (the code may still be complete!) or
    # the code is longer than 8 bits, fall back to the exact walk —
    # which also re-raises the marker/EOS exception at precisely the
    # consumption point the bit-by-bit decoder would have.
    if reader.nbits < 8:
        try:
            while reader.nbits < 8:
                reader._fill()
        except (_RestartMarker, ValueError):
            return _huff_decode_walk(reader, table.by_len)
    e = table.lut[(reader.acc >> (reader.nbits - 8)) & 0xFF]
    if e:
        reader.nbits -= e >> 8
        return e & 0xFF
    # long (> 8 bit) code: one 16-bit-lookahead index resolves it
    # (lazy second-level table); if fewer than 16 bits remain before
    # a marker/EOS the code may STILL be complete in what's left —
    # the walk decides that bit-exactly.
    if reader.nbits < 16:
        try:
            while reader.nbits < 16:
                reader._fill()
        except (_RestartMarker, ValueError):
            return _huff_decode_walk(reader, table.by_len)
    e = (table.lut16 or table.ensure_lut16())[
        (reader.acc >> (reader.nbits - 16)) & 0xFFFF]
    if e:
        reader.nbits -= e >> 8
        return e & 0xFF
    raise ValueError("invalid Huffman code in scan data")


def _huff_decode_walk(reader: _BitReader,
                      table: list[dict[int, int]]) -> int:
    """The exact bit-by-bit reference decode (T.81 F.2.2.3 DECODE)."""
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.bit()
        length += 1
        v = table[length].get(code)
        if v is not None:
            return v
    raise ValueError("invalid Huffman code in scan data")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t received bits to a signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _category(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


# --------------------------------------------------------------------------
# Encoder
# --------------------------------------------------------------------------

def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _encode_block(writer: _BitWriter, coefs: list[int], pred: int,
                  dc_codes: dict, ac_codes: dict) -> int:
    """Entropy-encode one quantized block (natural order).  Returns
    the block's DC value (the next block's predictor)."""
    dc = coefs[0]
    diff = dc - pred
    t = _category(diff)
    code, length = dc_codes[t]
    writer.write(code, length)
    if t:
        writer.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    zz = [coefs[ZIGZAG[k]] for k in range(1, 64)]
    run = 0
    for v in zz:
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        t = _category(v)
        code, length = ac_codes[(run << 4) | t]
        writer.write(code, length)
        writer.write(v if v >= 0 else v + (1 << t) - 1, t)
        run = 0
    if run:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)
    return dc


def _block_at(plane: list[int], w: int, h: int, bx: int, by: int) -> list[int]:
    """Extract the 8x8 block at (bx, by) with edge replication."""
    out = [0] * 64
    for y in range(8):
        sy = min(by * 8 + y, h - 1)
        row = plane[sy * w:(sy + 1) * w]
        for x in range(8):
            out[y * 8 + x] = row[min(bx * 8 + x, w - 1)]
    return out


def encode_jpeg(width: int, height: int, channels: int, pixels: bytes,
                restart_interval: int = 0, subsample: bool = False) -> bytes:
    """Encode row-major 8-bit pixels as a baseline JFIF JPEG.

    ``channels`` 1 (grayscale) or 3 (RGB after the fixed-point YCbCr
    forward transform — 4:4:4 by default, 4:2:0 with
    ``subsample=True``: chroma box-mean-downsampled 2x2, luma
    sampling factors 2x2, the dominant real-world layout).  Quant
    tables are Annex K; Huffman tables are the Annex K typical
    tables, written to DHT.  ``restart_interval`` > 0 emits DRI +
    RSTn markers every that many MCUs — exists so tests can exercise
    the decoder's restart path (error-resilience framing real
    encoders commonly emit).
    """
    if channels not in (1, 3):
        raise ValueError(f"unsupported channel count {channels}")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")

    # numpy exact twins of the per-pixel stages (same int64 math and
    # round-half-away division; bit-equality gated in test_jpeg.py)
    if channels == 1:
        planes = [list(pixels)]
    elif _np is not None:
        px = _np.frombuffer(pixels, dtype=_np.uint8).astype(
            _np.int64).reshape(-1, 3)
        r, g, b = px[:, 0], px[:, 1], px[:, 2]
        y = _rdiv_np(19595 * r + 38470 * g + 7471 * b, 65536)
        cb = 128 + _rdiv_np(-11059 * r - 21709 * g + 32768 * b, 65536)
        cr = 128 + _rdiv_np(32768 * r - 27439 * g - 5329 * b, 65536)
        planes = [_np.clip(p, 0, 255) for p in (y, cb, cr)]
    else:
        planes = [[0] * (width * height) for _ in range(3)]
        for i in range(width * height):
            r, g, b = pixels[3 * i], pixels[3 * i + 1], pixels[3 * i + 2]
            # JFIF fixed-point forward transform (scale 2^16)
            y = _rdiv(19595 * r + 38470 * g + 7471 * b, 65536)
            cb = 128 + _rdiv(-11059 * r - 21709 * g + 32768 * b, 65536)
            cr = 128 + _rdiv(32768 * r - 27439 * g - 5329 * b, 65536)
            planes[0][i] = min(255, max(0, y))
            planes[1][i] = min(255, max(0, cb))
            planes[2][i] = min(255, max(0, cr))

    if channels == 3 and subsample:
        samps = [(2, 2), (1, 1), (1, 1)]  # 4:2:0
        # box-mean downsample the chroma planes (edge-clamped)
        cw, ch = -(-width // 2), -(-height // 2)
        for c in (1, 2):
            src = planes[c]
            if _np is not None:
                p = _np.asarray(src, dtype=_np.int64).reshape(
                    height, width)
                y0 = 2 * _np.arange(ch)
                y1 = _np.minimum(y0 + 1, height - 1)
                x0 = 2 * _np.arange(cw)
                x1 = _np.minimum(x0 + 1, width - 1)
                planes[c] = _rdiv_np(
                    p[y0[:, None], x0] + p[y0[:, None], x1]
                    + p[y1[:, None], x0] + p[y1[:, None], x1], 4,
                ).reshape(-1)
                continue
            ds = [0] * (cw * ch)
            for y in range(ch):
                y0, y1 = 2 * y, min(2 * y + 1, height - 1)
                for x in range(cw):
                    x0, x1 = 2 * x, min(2 * x + 1, width - 1)
                    ds[y * cw + x] = _rdiv(
                        src[y0 * width + x0] + src[y0 * width + x1]
                        + src[y1 * width + x0] + src[y1 * width + x1], 4,
                    )
            planes[c] = ds
    else:
        samps = [(1, 1)] * channels

    hmax = max(hs for hs, _ in samps)
    vmax = max(vs for _, vs in samps)
    # per-component plane dimensions (chroma may be downsampled)
    dims = [
        (-(-width * hs // hmax), -(-height * vs // vmax))
        for hs, vs in samps
    ]

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    qts = [QUANT_LUMA] + ([QUANT_CHROMA] if channels == 3 else [])
    for tq, qt in enumerate(qts):
        out += _seg(0xDB, bytes([tq]) + bytes(qt[ZIGZAG[k]] for k in range(64)))
    comps = b""
    for c in range(channels):
        hs, vs = samps[c]
        comps += bytes([c + 1, (hs << 4) | vs, 0 if c == 0 else 1])
    out += _seg(0xC0, struct.pack(">BHHB", 8, height, width, channels) + comps)
    tables = [(0x00, DC_LUMA_BITS, DC_LUMA_VALS),
              (0x10, AC_LUMA_BITS, AC_LUMA_VALS)]
    if channels == 3:
        tables += [(0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
                   (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS)]
    for tc_th, bits, vals in tables:
        out += _seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([channels])
    for c in range(channels):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += _seg(0xDA, sos)

    dc_l = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)
    writer = _BitWriter()
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    # batch the whole forward transform up front when numpy is
    # available (exact twin of _block_at + _fdct_quant); the entropy
    # loop below is unchanged either way
    coef_grids = None
    if _np is not None:
        coef_grids = []
        for c in range(channels):
            cw, chh = dims[c]
            hs, vs = samps[c]
            coef_grids.append(_fdct_grid_np(
                planes[c], cw, chh, mcus_x * hs, mcus_y * vs,
                QUANT_LUMA if c == 0 else QUANT_CHROMA,
            ))
    preds = [0] * channels
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                writer.pad_to_byte()
                writer.raw(bytes([0xFF, 0xD0 + (mcu // restart_interval - 1) % 8]))
                preds = [0] * channels
            mcu += 1
            for c in range(channels):
                qt = QUANT_LUMA if c == 0 else QUANT_CHROMA
                dc_t = dc_l if c == 0 else dc_c
                ac_t = ac_l if c == 0 else ac_c
                hs, vs = samps[c]
                cw, chh = dims[c]
                for v in range(vs):
                    for u in range(hs):
                        if coef_grids is not None:
                            coefs = coef_grids[c][
                                my * vs + v, mx * hs + u
                            ].tolist()
                        else:
                            block = _block_at(
                                planes[c], cw, chh, mx * hs + u, my * vs + v
                            )
                            coefs = _fdct_quant(block, qt)
                        preds[c] = _encode_block(
                            writer, coefs, preds[c], dc_t, ac_t
                        )
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------

def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a baseline-sequential OR progressive JPEG ->
    ``(width, height, channels, pixels)`` with ``pixels`` row-major
    interleaved 8-bit samples (grayscale or RGB via the fixed-point
    inverse YCbCr transform).

    Both frame types run through one coefficient-store architecture:
    every scan (a sequential frame has one; a progressive frame has
    several — DC first/refinement, per-component AC bands with
    successive approximation, T.81 Annex G) accumulates quantized
    coefficients per block, and a single finish pass does
    dequantize -> fixed-point IDCT -> upsample -> color-convert, so
    sequential output is bit-identical to the pre-progressive
    decoder by construction."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: bad SOI")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], _HuffLUT] = {}
    frame = None
    store = None  # per-component block coefficient arrays
    restart_interval = 0
    saw_scan = False
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        if pos + 2 > len(data):
            raise ValueError("truncated segment header")
        (length,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + length]
        if len(body) != length - 2:
            raise ValueError("truncated segment body")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                zz = body[p + 1:p + 65]
                if len(zz) != 64:
                    raise ValueError("truncated DQT")
                nat = [0] * 64
                for k in range(64):
                    nat[ZIGZAG[k]] = zz[k]
                qtables[tq] = nat
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1:p + 17])
                n = sum(bits)
                # LUT construction is content-addressed: bits+vals
                # bytes are the complete table definition
                seg = bytes(body[p + 1:p + 17 + n])
                lut = _HUFF_LUT_CACHE.get(seg)
                if lut is None:
                    vals = list(body[p + 17:p + 17 + n])
                    codes = _canonical_codes(bits, vals)
                    # fallback table as a length-indexed list of
                    # dicts — the walk does one int-keyed .get per
                    # extra bit past the 8-bit lookahead
                    by_len: list[dict[int, int]] = [dict() for _ in range(17)]
                    for v, (code, lng) in codes.items():
                        by_len[lng][code] = v
                    lut = _HuffLUT(by_len)
                    if len(_HUFF_LUT_CACHE) < _HUFF_LUT_CACHE_MAX:
                        _HUFF_LUT_CACHE[seg] = lut
                htables[(tc, th)] = lut
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 (sequential), SOF2 (progressive)
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError(f"unsupported sample precision {prec}")
            comps = []
            for c in range(nc):
                cid, samp, tq = body[6 + 3 * c:9 + 3 * c]
                hs, vs = samp >> 4, samp & 0x0F
                if hs not in (1, 2, 4) or vs not in (1, 2, 4):
                    raise ValueError(
                        f"sampling factor 0x{samp:02x} out of range"
                    )
                comps.append((cid, hs, vs, tq))
            hmax = max(hs for _, hs, _, _ in comps)
            vmax = max(vs for _, _, vs, _ in comps)
            for _, hs, vs, _ in comps:
                if hmax % hs or vmax % vs:
                    raise ValueError(
                        "non-integral chroma subsampling ratio unsupported"
                    )
            frame = _Frame(w, h, comps, progressive=(marker == 0xC2))
            # MCU-padded coefficient grid per component; non-
            # interleaved scans touch only the nb_w x nb_h subgrid.
            store = [
                [[0] * 64 for _ in range(frame.grid_w[c] * frame.grid_h[c])]
                for c in range(nc)
            ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported frame marker 0xFF{marker:02X} "
                "(hierarchical/arithmetic/lossless)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            if not frame.progressive and ns != len(frame.comps):
                raise ValueError("partial sequential scan unsupported")
            by_id = {cid: i for i, (cid, _, _, _) in enumerate(frame.comps)}
            scomps = []
            for c in range(ns):
                cs, tdta = body[1 + 2 * c], body[2 + 2 * c]
                scomps.append((by_id[cs], tdta >> 4, tdta & 0x0F))
            ss, se, ahal = body[1 + 2 * ns:4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if not frame.progressive:
                ss, se, ah, al = 0, 63, 0, 0
            pos = _run_scan(
                data, pos + length, frame, scomps, ss, se, ah, al,
                htables, restart_interval, store,
            )
            saw_scan = True
            continue  # pos already points at the next marker
        # APPn / COM / others: skip
        pos += length
    if not saw_scan:
        raise ValueError("no SOS marker found")
    return frame.w, frame.h, len(frame.comps), _finish(frame, store, qtables)


class _Frame:
    """Frame geometry: per-component MCU-padded block grid
    (interleaved scans) and true block counts (non-interleaved)."""

    def __init__(self, w: int, h: int, comps: list, progressive: bool):
        self.w, self.h, self.comps = w, h, comps
        self.progressive = progressive
        self.hmax = max(hs for _, hs, _, _ in comps)
        self.vmax = max(vs for _, _, vs, _ in comps)
        self.mcus_x = -(-w // (8 * self.hmax))
        self.mcus_y = -(-h // (8 * self.vmax))
        self.grid_w = [self.mcus_x * hs for _, hs, _, _ in comps]
        self.grid_h = [self.mcus_y * vs for _, _, vs, _ in comps]
        # true per-component block counts (T.81 A.1.1 / G.1)
        self.nb_w = [
            -(-(-(-w * hs // self.hmax)) // 8) for _, hs, _, _ in comps
        ]
        self.nb_h = [
            -(-(-(-h * vs // self.vmax)) // 8) for _, _, vs, _ in comps
        ]


def _run_scan(data: bytes, pos: int, frame: "_Frame", scomps: list,
              ss: int, se: int, ah: int, al: int, htables: dict,
              restart: int, store: list) -> int:
    """Decode one scan's entropy data into the coefficient store and
    return the byte offset of the next marker."""
    reader = _BitReader(data, pos)
    preds = {ci: 0 for ci, _, _ in scomps}
    state = {"eobrun": 0}

    def dc_table(td):
        t = htables.get((0, td))
        if t is None:
            raise ValueError("missing DC Huffman table for scan")
        return t

    def ac_table(ta):
        t = htables.get((1, ta))
        if t is None:
            raise ValueError("missing AC Huffman table for scan")
        return t

    def decode_one(ci, td, ta, block):
        if not frame.progressive:
            _sequential_block(reader, dc_table(td), ac_table(ta),
                              preds, ci, block)
        elif ss == 0:
            if se != 0:
                raise ValueError("progressive DC scan with Se != 0")
            if ah == 0:
                t = _huff_decode(reader, dc_table(td))
                diff = _extend(reader.receive(t), t)
                preds[ci] += diff
                block[0] = preds[ci] << al
            else:
                if reader.bit():
                    block[0] |= 1 << al
        else:
            if ah == 0:
                _ac_first(reader, ac_table(ta), block, ss, se, al, state)
            else:
                _ac_refine(reader, ac_table(ta), block, ss, se, al, state)

    mcu = 0
    try:
        if len(scomps) > 1:
            # interleaved: MCU raster order, hs*vs blocks per comp
            for my in range(frame.mcus_y):
                for mx in range(frame.mcus_x):
                    if restart and mcu and mcu % restart == 0:
                        reader.align_and_skip_rst()
                        for k in preds:
                            preds[k] = 0
                        state["eobrun"] = 0
                    mcu += 1
                    for ci, td, ta in scomps:
                        _, hs, vs, _ = frame.comps[ci]
                        for v in range(vs):
                            for u in range(hs):
                                idx = ((my * vs + v) * frame.grid_w[ci]
                                       + mx * hs + u)
                                decode_one(ci, td, ta, store[ci][idx])
        else:
            # non-interleaved: the component's true block grid
            ci, td, ta = scomps[0]
            for by in range(frame.nb_h[ci]):
                for bx in range(frame.nb_w[ci]):
                    if restart and mcu and mcu % restart == 0:
                        reader.align_and_skip_rst()
                        preds[ci] = 0
                        state["eobrun"] = 0
                    mcu += 1
                    decode_one(ci, td, ta, store[ci][by * frame.grid_w[ci] + bx])
    except _RestartMarker as exc:
        raise ValueError("restart marker inside an entropy unit") from exc

    # locate the next marker (skip any trailing restart markers)
    p = reader.pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00:
            if 0xD0 <= data[p + 1] <= 0xD7:
                p += 2
                continue
            return p
        p += 1
    raise ValueError("scan data ran past end of file")


def _sequential_block_ref(reader, dc_t, ac_t, preds, ci, block) -> None:
    """Reference sequential-block decode (T.81 F.2.2): the exact twin
    the fast inlined variant below is gated against
    (test_jpeg.py::test_fast_sequential_block_is_bit_exact)."""
    t = _huff_decode(reader, dc_t)
    diff = _extend(reader.receive(t), t)
    preds[ci] += diff
    block[0] = preds[ci]
    k = 1
    while k < 64:
        rs = _huff_decode(reader, ac_t)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("AC coefficient index overflow")
        block[ZIGZAG[k]] = _extend(reader.receive(size), size)
        k += 1


def _sequential_block(reader, dc_t, ac_t, preds, ci, block) -> None:
    """Fast sequential-block decode: the reader's bit buffer lives in
    locals for the whole block (Python attribute/method dispatch is
    ~the entire entropy-decode cost once the LUT exists), with the
    bit-exactness contract of :func:`_sequential_block_ref` kept by
    construction — the inline paths handle ONLY plain bytes and
    stuffed 0xFF00 fills, short (<= 8 bit) codes, and in-buffer
    receives; every boundary case (marker, EOS, long code, starved
    receive) commits the locals back and delegates that one step to
    the exact shared helpers, which raise at precisely the same
    consumption points the reference does."""
    d = reader.data
    n = len(d)
    pos = reader.pos
    acc = reader.acc
    nbits = reader.nbits
    zig = ZIGZAG

    # ---- DC: symbol
    while nbits < 8 and pos < n:
        b = d[pos]
        if b == 0xFF:
            if pos + 1 < n and d[pos + 1] == 0:
                pos += 2
            else:
                break  # marker: delegate
        else:
            pos += 1
        acc = ((acc & ((1 << nbits) - 1)) << 8) | b
        nbits += 8
    e = dc_t.lut[(acc >> (nbits - 8)) & 0xFF] if nbits >= 8 else 0
    if e:
        nbits -= e >> 8
        t = e & 0xFF
    else:
        reader.pos, reader.acc, reader.nbits = pos, acc, nbits
        t = _huff_decode(reader, dc_t)
        pos, acc, nbits = reader.pos, reader.acc, reader.nbits
    # ---- DC: receive(t) + EXTEND
    if t:
        while nbits < t and pos < n:
            b = d[pos]
            if b == 0xFF:
                if pos + 1 < n and d[pos + 1] == 0:
                    pos += 2
                else:
                    break
            else:
                pos += 1
            acc = ((acc & ((1 << nbits) - 1)) << 8) | b
            nbits += 8
        if nbits >= t:
            nbits -= t
            v = (acc >> nbits) & ((1 << t) - 1)
        else:
            reader.pos, reader.acc, reader.nbits = pos, acc, nbits
            v = reader.receive(t)
            pos, acc, nbits = reader.pos, reader.acc, reader.nbits
        preds[ci] += v if v >= (1 << (t - 1)) else v - (1 << t) + 1
    block[0] = preds[ci]

    # ---- AC run/size loop
    lut = ac_t.lut
    k = 1
    while k < 64:
        while nbits < 8 and pos < n:
            b = d[pos]
            if b == 0xFF:
                if pos + 1 < n and d[pos + 1] == 0:
                    pos += 2
                else:
                    break
            else:
                pos += 1
            acc = ((acc & ((1 << nbits) - 1)) << 8) | b
            nbits += 8
        e = lut[(acc >> (nbits - 8)) & 0xFF] if nbits >= 8 else 0
        if e:
            nbits -= e >> 8
            rs = e & 0xFF
        else:
            reader.pos, reader.acc, reader.nbits = pos, acc, nbits
            rs = _huff_decode(reader, ac_t)
            pos, acc, nbits = reader.pos, reader.acc, reader.nbits
        size = rs & 0x0F
        if size == 0:
            if rs == 0xF0:  # ZRL
                k += 16
                continue
            break  # EOB
        k += rs >> 4
        if k > 63:
            reader.pos, reader.acc, reader.nbits = pos, acc, nbits
            raise ValueError("AC coefficient index overflow")
        while nbits < size and pos < n:
            b = d[pos]
            if b == 0xFF:
                if pos + 1 < n and d[pos + 1] == 0:
                    pos += 2
                else:
                    break
            else:
                pos += 1
            acc = ((acc & ((1 << nbits) - 1)) << 8) | b
            nbits += 8
        if nbits >= size:
            nbits -= size
            v = (acc >> nbits) & ((1 << size) - 1)
        else:
            reader.pos, reader.acc, reader.nbits = pos, acc, nbits
            v = reader.receive(size)
            pos, acc, nbits = reader.pos, reader.acc, reader.nbits
        block[zig[k]] = v if v >= (1 << (size - 1)) else v - (1 << size) + 1
        k += 1
    reader.pos, reader.acc, reader.nbits = pos, acc, nbits


def _ac_first(reader, ac_t, block, ss, se, al, state) -> None:
    """First AC scan of a spectral band (T.81 G.1.2.2): run/size
    coding with EOB-run extensions, values scaled by 2^Al."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _huff_decode(reader, ac_t)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += reader.receive(r)
            break
        k += r
        if k > se:
            raise ValueError("AC coefficient index overflow in band")
        block[ZIGZAG[k]] = _extend(reader.receive(s), s) << al
        k += 1


def _ac_refine(reader, ac_t, block, ss, se, al, state) -> None:
    """AC refinement scan (T.81 G.1.2.3, the libjpeg
    decode_mcu_AC_refine structure): newly-nonzero coefficients
    arrive as +/-2^Al; every already-nonzero coefficient crossed —
    including those inside an EOB run — consumes one correction
    bit."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = _huff_decode(reader, ac_t)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r != 15:
                    state["eobrun"] = (1 << r)
                    if r:
                        state["eobrun"] += reader.receive(r)
                    break
                val = 0  # ZRL: skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("invalid refinement magnitude")
                val = p1 if reader.bit() else m1
            while k <= se:
                z = ZIGZAG[k]
                if block[z] != 0:
                    if reader.bit() and (block[z] & p1) == 0:
                        block[z] += p1 if block[z] >= 0 else m1
                else:
                    if r == 0:
                        if val:
                            block[z] = val
                        k += 1
                        break
                    r -= 1
                k += 1
    if state["eobrun"] > 0:
        while k <= se:
            z = ZIGZAG[k]
            if block[z] != 0:
                if reader.bit() and (block[z] & p1) == 0:
                    block[z] += p1 if block[z] >= 0 else m1
            k += 1
        state["eobrun"] -= 1


def _finish(frame: "_Frame", store: list, qtables: dict) -> bytes:
    """Dequantize + IDCT every true block, assemble planes, upsample
    chroma by replication, color-convert.  Dispatches to the numpy
    exact-twin when available (~3x on real photos; the entropy decode
    stays the sequential cost); the stdlib loops below are the
    fallback and the oracle's documentation."""
    if _np is not None:
        return _finish_np(frame, store, qtables)
    return _finish_py(frame, store, qtables)


def _finish_np(frame: "_Frame", store: list, qtables: dict) -> bytes:
    nc = len(frame.comps)
    planes = []
    for c, (_, hs, vs, tq) in enumerate(frame.comps):
        if tq not in qtables:
            raise ValueError(f"missing quantization table {tq}")
        gw, gh = frame.grid_w[c], frame.grid_h[c]
        # whole padded grid at once (padding blocks are all-zero
        # coefficients — decoding them costs a sliver and keeps the
        # reshape rectangular)
        blocks = _np.array(store[c], dtype=_np.int64)
        levels = _idct_grid_np(blocks, qtables[tq])
        plane = (
            levels.reshape(gh, gw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(gh * 8, gw * 8)
        )
        planes.append(plane)

    w, h = frame.w, frame.h
    if nc == 1:
        return planes[0][:h, :w].tobytes()
    if nc != 3:
        raise ValueError(f"unsupported component count {nc}")

    def up(c: int):
        _, hs, vs, _ = frame.comps[c]
        yi = (_np.arange(h) * vs) // frame.vmax
        xi = (_np.arange(w) * hs) // frame.hmax
        return planes[c][yi[:, None], xi[None, :]].astype(_np.int64)

    yy = up(0)
    cb = up(1) - 128
    cr = up(2) - 128
    r = _np.clip(yy + _rdiv_np(91881 * cr, 65536), 0, 255)
    g = _np.clip(yy - _rdiv_np(22554 * cb + 46802 * cr, 65536), 0, 255)
    b = _np.clip(yy + _rdiv_np(116130 * cb, 65536), 0, 255)
    return _np.stack([r, g, b], axis=-1).astype(_np.uint8).tobytes()


def _finish_py(frame: "_Frame", store: list, qtables: dict) -> bytes:
    nc = len(frame.comps)
    planes = []
    for c, (_, hs, vs, tq) in enumerate(frame.comps):
        if tq not in qtables:
            raise ValueError(f"missing quantization table {tq}")
        qt = qtables[tq]
        pw = frame.grid_w[c] * 8
        plane = bytearray(pw * frame.grid_h[c] * 8)
        for by in range(frame.nb_h[c]):
            for bx in range(frame.nb_w[c]):
                levels = _dequant_idct(
                    store[c][by * frame.grid_w[c] + bx], qt
                )
                for y in range(8):
                    row = (by * 8 + y) * pw + bx * 8
                    plane[row:row + 8] = bytes(levels[y * 8:y * 8 + 8])
        planes.append(plane)

    w, h = frame.w, frame.h
    if nc == 1:
        pw = frame.grid_w[0] * 8
        out = bytearray(w * h)
        for y in range(h):
            out[y * w:(y + 1) * w] = planes[0][y * pw:y * pw + w]
        return bytes(out)
    if nc != 3:
        raise ValueError(f"unsupported component count {nc}")

    def sample(c: int, y: int, x: int) -> int:
        _, hs, vs, _ = frame.comps[c]
        return planes[c][
            (y * vs // frame.vmax) * frame.grid_w[c] * 8
            + (x * hs // frame.hmax)
        ]

    out = bytearray(w * h * 3)
    for y in range(h):
        for x in range(w):
            yy = sample(0, y, x)
            cb = sample(1, y, x) - 128
            cr = sample(2, y, x) - 128
            i = (y * w + x) * 3
            out[i] = min(255, max(0, yy + _rdiv(91881 * cr, 65536)))
            out[i + 1] = min(255, max(0, yy - _rdiv(22554 * cb + 46802 * cr, 65536)))
            out[i + 2] = min(255, max(0, yy + _rdiv(116130 * cb, 65536)))
    return bytes(out)
