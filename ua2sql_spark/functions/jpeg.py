"""Pure-stdlib baseline JPEG codec for 8-bit grayscale rasters.

``encode_jpeg`` writes one shape of stream: a JFIF APP0 segment, one
quantization table, one DC and one AC Huffman table of uniform code
length, a single-component baseline (SOF0) frame and one scan, with no
restart markers. ``decode_jpeg`` reads exactly that shape, with any
canonical Huffman tables, through the sequential DCT process of ITU-T
T.81: marker parsing, Huffman decoding, dequantization in zigzag order
and the separable 8×8 IDCT. Any other frame (colour, progressive,
arithmetic, 12-bit) or marker (restart, comment) raises ``JpegError``,
a ``NotImplementedError``.

x153 and x187 build their payloads with the encoder, and x187's
``media.thumbnail_real`` decodes, downscales and re-encodes them. Pure
Python is the correctness tier behind the Arrow-batched ``mapInPandas``
of ``queries/multimodal.py``, not a decode farm.
"""

from __future__ import annotations

import math
import struct

# Zigzag index -> raster index (row*8+col), ITU-T T.81 figure A.6.
ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)

# Orthonormal 1-D DCT-II basis: D[u][x] = c(u)/2 * cos((2x+1)uπ/16).
# Forward F = D·S·Dᵀ, inverse S = Dᵀ·F·D — one matrix, both directions.
_DCT = [
    [
        (math.sqrt(0.125) if u == 0 else 0.5)
        * math.cos((2 * x + 1) * u * math.pi / 16)
        for x in range(8)
    ]
    for u in range(8)
]

# Standard quantization tables, ITU-T T.81 Annex K.1 (public spec
# constants), scaled by the libjpeg quality convention in _quant_table.
_STD_LUMA_Q = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)


class JpegError(NotImplementedError):
    """Unsupported or malformed JPEG stream.

    Subclasses NotImplementedError so the media seam's uniform
    "unsupported variant" contract (functions/media.py) holds."""


# ---------------------------------------------------------------------------
# Huffman: canonical code construction shared by encode + decode.
# ---------------------------------------------------------------------------
def _canonical_codes(bits: list[int], vals: bytes) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for a JPEG DHT (bits[i] = #codes of
    length i+1, vals in code order)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise JpegError("DHT overfull Huffman code space")
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitReader:
    """MSB-first bit reader over entropy-coded data that un-stuffs 0xFF00.
    A marker inside the scan raises; a truncated scan raises IndexError,
    which :func:`decode_jpeg` turns into :class:`JpegError`."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bit = 0

    def next_bit(self) -> int:
        byte = self.data[self.pos]
        if byte == 0xFF and self.bit == 0 and self.data[self.pos + 1] != 0x00:
            raise JpegError("marker inside the entropy-coded segment")
        b = (byte >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 2 if byte == 0xFF else 1  # skip the 0x00 stuffing
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.next_bit()
        return v


def _extend(v: int, n: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an n-bit magnitude to its signed value."""
    return v - (1 << n) + 1 if n and v < (1 << (n - 1)) else v


def _decode_symbol(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.next_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise JpegError("invalid Huffman code in scan")


def _idct_block(coef: list[float]) -> list[int]:
    """Separable inverse DCT of one 8×8 block (+128 level shift, clamped)."""
    # T[u][y] = Σ_v D[v][y]·coef[u][v]
    tmp = [[sum(_DCT[v][y] * coef[u * 8 + v] for v in range(8)) for y in range(8)]
           for u in range(8)]
    out = []
    for x in range(8):
        for y in range(8):
            s = sum(_DCT[u][x] * tmp[u][y] for u in range(8))
            out.append(min(255, max(0, int(round(s)) + 128)))
    return out


def _fdct_block(samples: list[int]) -> list[float]:
    """Forward DCT of one 8×8 block of level-shifted samples."""
    shifted = [s - 128 for s in samples]
    tmp = [[sum(_DCT[v][y] * shifted[x * 8 + y] for y in range(8)) for v in range(8)]
           for x in range(8)]
    return [
        sum(_DCT[u][x] * tmp[x][v] for x in range(8))
        for u in range(8)
        for v in range(8)
    ]


# ---------------------------------------------------------------------------
# Decoder.
# ---------------------------------------------------------------------------
def decode_jpeg(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a single-component baseline JPEG to (width, height,
    raster), the raster one 8-bit sample per pixel in row-major order.
    APPn segments are skipped; DQT, DHT, SOF0 and SOS are read, and any
    other marker raises :class:`JpegError`."""
    if payload[:2] != b"\xff\xd8":
        raise JpegError("not a JPEG stream (missing SOI)")
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None  # (width, height, quantization table id)
    pos = 2
    try:
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                raise JpegError("marker desync")
            marker = payload[pos + 1]
            (seglen,) = struct.unpack_from(">H", payload, pos + 2)
            seg = payload[pos + 4 : pos + 2 + seglen]
            pos += 2 + seglen
            if marker == 0xDB:  # DQT — possibly several tables per marker
                for p in range(0, len(seg), 65):
                    if seg[p] >> 4:
                        raise JpegError("16-bit quantization table")
                    qt[seg[p] & 0x0F] = list(seg[p + 1 : p + 65])
            elif marker == 0xC4:  # DHT — possibly several tables per marker
                p = 0
                while p < len(seg):
                    tclass, tid = seg[p] >> 4, seg[p] & 0x0F
                    bits = list(seg[p + 1 : p + 17])
                    n = sum(bits)
                    codes = _canonical_codes(bits, seg[p + 17 : p + 17 + n])
                    huff[(tclass, tid)] = {
                        (length, code): sym for sym, (code, length) in codes.items()
                    }
                    p += 17 + n
            elif marker == 0xC0:  # SOF0
                depth, height, width, ncomp = struct.unpack_from(">BHHB", seg, 0)
                if depth != 8 or ncomp != 1:
                    raise JpegError(
                        f"{depth}-bit {ncomp}-component frame: only 8-bit "
                        "grayscale decodes"
                    )
                frame = (width, height, seg[8])
            elif marker == 0xDA:  # SOS — entropy-coded data follows
                if frame is None or seg[0] != 1:
                    raise JpegError("SOS without a single-component SOF0 frame")
                width, height, tq = frame
                dc, ac = huff[(0, seg[2] >> 4)], huff[(1, seg[2] & 0x0F)]
                return _decode_scan(payload, pos, width, height, qt[tq], dc, ac)
            elif not 0xE0 <= marker <= 0xEF:  # APPn (JFIF, Exif) are skipped
                raise JpegError(
                    f"marker 0x{marker:02X}: only baseline grayscale JPEG "
                    "without restart markers decodes"
                )
        raise JpegError("no SOS marker found")
    except (struct.error, IndexError, KeyError) as exc:
        raise JpegError(f"malformed JPEG stream: {exc!r}") from exc


def _decode_scan(payload, pos, width, height, q, dc_table, ac_table):
    """Decode the one scan's 8×8 blocks in raster order and crop the
    block-padded plane to ``width`` × ``height``."""
    blocks_x, blocks_y = -(-width // 8), -(-height // 8)
    pw = blocks_x * 8
    plane = bytearray(pw * blocks_y * 8)
    reader = _BitReader(payload, pos)
    dc_pred = 0
    for by in range(blocks_y):
        for bx in range(blocks_x):
            coef = [0.0] * 64
            s = _decode_symbol(reader, dc_table)
            dc_pred += _extend(reader.receive(s), s)
            coef[0] = dc_pred * q[0]
            k = 1
            while k < 64:
                rs = _decode_symbol(reader, ac_table)
                run, size = rs >> 4, rs & 0x0F
                if size == 0:
                    if run == 15:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += run
                coef[ZIGZAG[k]] = _extend(reader.receive(size), size) * q[k]
                k += 1
            block = _idct_block(coef)
            for r in range(8):
                row_off = (by * 8 + r) * pw + bx * 8
                plane[row_off : row_off + 8] = bytes(block[r * 8 : r * 8 + 8])
    return width, height, b"".join(plane[y * pw : y * pw + width] for y in range(height))


# ---------------------------------------------------------------------------
# Encoder: baseline SOF0, one component.
# ---------------------------------------------------------------------------
# Simple valid canonical Huffman tables (uniform lengths — legal if
# inefficient; the decoder takes any canonical table).
_ENC_DC_BITS = [0, 0, 0, 12] + [0] * 12  # all 12 DC size categories: 4 bits
_ENC_DC_VALS = bytes(range(12))
_ENC_AC_VALS = bytes(
    [0x00, 0xF0]
    + [(run << 4) | size for run in range(16) for size in range(1, 11)]
)
_ENC_AC_BITS = [0] * 7 + [len(_ENC_AC_VALS)] + [0] * 8  # all 162: 8 bits


def _quant_table(quality: int) -> list[int]:
    """libjpeg quality scaling: 50 → the T.81 table, 100 → all ones."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [min(255, max(1, (b * scale + 50) // 100)) for b in _STD_LUMA_Q]


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1s per spec
        return bytes(self.out)


def _size_cat(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


def _encode_block(writer, samples, q, dc_pred, dc_codes, ac_codes) -> int:
    coef = _fdct_block(samples)
    quant = [int(round(coef[ZIGZAG[k]] / q[k])) for k in range(64)]
    diff = quant[0] - dc_pred
    s = _size_cat(diff)
    code, length = dc_codes[s]
    writer.write(code, length)
    if s:
        writer.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = max((k for k in range(1, 64) if quant[k]), default=0)
    for k in range(1, last_nz + 1):
        if quant[k] == 0:
            run += 1
            continue
        while run > 15:
            zc, zl = ac_codes[0xF0]
            writer.write(zc, zl)
            run -= 16
        size = _size_cat(quant[k])
        code, length = ac_codes[(run << 4) | size]
        writer.write(code, length)
        v = quant[k]
        writer.write(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]
        writer.write(code, length)
    return quant[0]


def _block_at(plane: list[list[int]], x0: int, y0: int) -> list[int]:
    """8×8 block with edge replication past the plane boundary."""
    h, w = len(plane), len(plane[0])
    return [
        plane[min(y0 + r, h - 1)][min(x0 + c, w - 1)]
        for r in range(8)
        for c in range(8)
    ]


def encode_jpeg(width: int, height: int, raster: bytes, quality: int = 92) -> bytes:
    """Encode an 8-bit grayscale raster (one sample per pixel, row-major)
    as a single-component baseline JFIF JPEG at libjpeg ``quality``."""
    q = _quant_table(quality)
    plane = [[raster[y * width + x] for x in range(width)] for y in range(height)]
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes(q)
    # SOF0: 8-bit, height, width, one component (id 1, 1x1 sampling, table 0)
    out += b"\xff\xc0" + struct.pack(">HBHHBBBB", 11, 8, height, width, 1, 1, 0x11, 0)
    for tclass, bits, vals in [(0, _ENC_DC_BITS, _ENC_DC_VALS), (1, _ENC_AC_BITS, _ENC_AC_VALS)]:
        body = bytes([tclass << 4]) + bytes(bits) + vals
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    # SOS: one component (id 1, DC/AC tables 0), then Ss/Se/AhAl of sequential DCT
    out += b"\xff\xda" + struct.pack(">HBBBBBB", 8, 1, 1, 0x00, 0, 63, 0)

    writer = _BitWriter()
    dc_codes = _canonical_codes(_ENC_DC_BITS, _ENC_DC_VALS)
    ac_codes = _canonical_codes(_ENC_AC_BITS, _ENC_AC_VALS)
    dc_pred = 0
    for y0 in range(0, height, 8):
        for x0 in range(0, width, 8):
            dc_pred = _encode_block(
                writer, _block_at(plane, x0, y0), q, dc_pred, dc_codes, ac_codes
            )
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)
