"""Pure-stdlib baseline JPEG codec (X6 media seam, SURVEY §2.11).

The container ships no PIL/opencv/ffmpeg, so the engine carries its own
baseline-JPEG implementation — the sequential DCT process of ITU-T
T.81: marker parsing, canonical Huffman entropy coding, dequantize +
zigzag, separable 8×8 IDCT/FDCT, chroma up/down-sampling, and the JFIF
YCbCr↔RGB transform. Progressive (SOF2), arithmetic coding, 12-bit
precision, and CMYK raise ``NotImplementedError`` naming the variant.

Decode handles what cameras and encoders overwhelmingly emit: baseline
(SOF0) and extended-sequential (SOF1) Huffman scans, grayscale or YCbCr
with any sampling factors (4:4:4 / 4:2:2 / 4:2:0), restart markers,
and 0xFF00 byte stuffing. The encoder exists so tests can roundtrip
real compressed bytes without third-party fixtures — and doubles as the
thumbnail re-encode step of ``media.thumbnail_real``.

Performance note: this is the *codec seam* behind Arrow-batched
``mapInPandas`` (queries/multimodal.py). On a production cluster the
same seam binds to PIL-SIMD/libjpeg-turbo; the Spark plumbing — schema,
batching, partitioning — is identical either way, which is the part the
engine owns. Pure-Python decode is for correctness tests at small
payload counts, not the 100 TB hot path.
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
_STD_CHROMA_Q = (
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
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
    """MSB-first bit reader over entropy-coded data: un-stuffs 0xFF00,
    stops at markers, and byte-aligns across RSTn."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bit = 0
        self.marker = None  # pending marker byte (RSTn/EOI/next header)

    def next_bit(self) -> int:
        d = self.data
        if self.marker is not None:
            raise JpegError("bit read past marker boundary")
        if self.pos >= len(d):
            raise JpegError("truncated entropy-coded segment")
        byte = d[self.pos]
        if byte == 0xFF and self.bit == 0:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt != 0x00:  # a real marker, not a stuffed 0xFF
                self.marker = nxt
                raise JpegError("bit read past marker boundary")
        b = (byte >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 2 if byte == 0xFF else 1  # skip the 0x00 stuffing
        return b

    def at_marker(self) -> int | None:
        """Peek: byte-aligned at an 0xFFxx marker? Returns the marker byte."""
        p = self.pos
        if self.bit:  # mid-byte: align first (CCITT: pad bits are 1s)
            p += 2 if self.data[p] == 0xFF else 1
        if p + 1 < len(self.data) and self.data[p] == 0xFF and self.data[p + 1] != 0x00:
            return self.data[p + 1]
        return None

    def restart(self) -> None:
        """Consume an RSTn marker and realign to the next byte."""
        if self.bit:
            self.pos += 2 if self.data[self.pos] == 0xFF else 1
            self.bit = 0
        if not (self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7):
            raise JpegError("expected restart marker")
        self.pos += 2

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
def decode_jpeg(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a baseline JPEG to (width, height, channels, raster).

    Raster is row-major interleaved 8-bit samples: 1 channel for
    grayscale, 3 (RGB) for YCbCr sources. Raises :class:`JpegError`
    (a NotImplementedError) for progressive/arithmetic/12-bit/CMYK."""
    if payload[:2] != b"\xff\xd8":
        raise JpegError("not a JPEG stream (missing SOI)")
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None  # (width, height, components)
    restart_interval = 0
    pos = 2
    try:
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                raise JpegError("marker desync")
            marker = payload[pos + 1]
            if marker == 0xFF:  # fill byte before a marker
                pos += 1
                continue
            if marker == 0xD9:  # EOI
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:  # standalone markers
                pos += 2
                continue
            (seglen,) = struct.unpack_from(">H", payload, pos + 2)
            seg = payload[pos + 4 : pos + 2 + seglen]
            pos += 2 + seglen
            if marker == 0xDB:  # DQT — possibly several tables per marker
                p = 0
                while p < len(seg):
                    prec, tid = seg[p] >> 4, seg[p] & 0x0F
                    p += 1
                    if prec == 0:
                        qt[tid] = list(seg[p : p + 64])
                        p += 64
                    else:
                        qt[tid] = list(struct.unpack_from(">64H", seg, p))
                        p += 128
            elif marker == 0xC4:  # DHT — possibly several tables per marker
                p = 0
                while p < len(seg):
                    tclass, tid = seg[p] >> 4, seg[p] & 0x0F
                    bits = list(seg[p + 1 : p + 17])
                    n = sum(bits)
                    vals = seg[p + 17 : p + 17 + n]
                    codes = _canonical_codes(bits, vals)
                    huff[(tclass, tid)] = {
                        (length, code): sym for sym, (code, length) in codes.items()
                    }
                    p += 17 + n
            elif marker in (0xC0, 0xC1):  # SOF0/SOF1: baseline sequential
                depth, height, width, ncomp = struct.unpack_from(">BHHB", seg, 0)
                if depth != 8:
                    raise JpegError(f"{depth}-bit JPEG precision unsupported")
                if ncomp not in (1, 3):
                    raise JpegError(f"{ncomp}-component JPEG (CMYK?) unsupported")
                comps = []
                for i in range(ncomp):
                    cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * i)
                    comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
                frame = (width, height, comps)
            elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                raise JpegError(
                    f"SOF{marker - 0xC0}: only baseline/extended-sequential "
                    "Huffman JPEG decodes natively (no progressive/arithmetic)"
                )
            elif marker == 0xDD:  # DRI
                (restart_interval,) = struct.unpack_from(">H", seg, 0)
            elif marker == 0xDA:  # SOS — entropy-coded data follows
                if frame is None:
                    raise JpegError("SOS before SOF")
                nscan = seg[0]
                if nscan != len(frame[2]):
                    # T.81 permits non-interleaved per-component scans;
                    # decoding only the first would silently return a
                    # grayscale image for a color JPEG — refuse instead
                    # (the module contract: unsupported variants raise).
                    raise JpegError(
                        f"non-interleaved scan ({nscan} of {len(frame[2])} "
                        "components): only single-scan interleaved baseline "
                        "decodes natively"
                    )
                scan = []
                for i in range(nscan):
                    cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
                    comp = next(c for c in frame[2] if c["id"] == cs)
                    scan.append((comp, tdta >> 4, tdta & 0x0F))
                return _decode_scan(payload, pos, frame, scan, qt, huff, restart_interval)
            # APPn/COM/others: skipped
        raise JpegError("no SOS marker found")
    except (struct.error, IndexError, StopIteration, KeyError) as exc:
        raise JpegError(f"malformed JPEG stream: {exc!r}") from exc


def _decode_scan(payload, pos, frame, scan, qt, huff, restart_interval):
    width, height, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))

    planes = {}
    for comp, _, _ in scan:
        pw, ph = mcus_x * comp["h"] * 8, mcus_y * comp["v"] * 8
        planes[comp["id"]] = (bytearray(pw * ph), pw)

    reader = _BitReader(payload, pos)
    dc_pred = {comp["id"]: 0 for comp, _, _ in scan}
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                m = reader.at_marker()
                if m is not None and 0xD0 <= m <= 0xD7:
                    reader.restart()
                    dc_pred = dict.fromkeys(dc_pred, 0)
            for comp, td, ta in scan:
                q = qt[comp["tq"]]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        coef = [0.0] * 64
                        s = _decode_symbol(reader, huff[(0, td)])
                        diff = _extend(reader.receive(s), s)
                        dc_pred[comp["id"]] += diff
                        coef[0] = dc_pred[comp["id"]] * q[0]
                        k = 1
                        while k < 64:
                            rs = _decode_symbol(reader, huff[(1, ta)])
                            run, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if run == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += run
                            if k > 63:
                                raise JpegError("AC coefficient index overflow")
                            coef[ZIGZAG[k]] = _extend(reader.receive(size), size) * q[k]
                            k += 1
                        block = _idct_block(coef)
                        plane, pw = planes[comp["id"]]
                        ox = (mx * comp["h"] + bx) * 8
                        oy = (my * comp["v"] + by) * 8
                        for r in range(8):
                            row_off = (oy + r) * pw + ox
                            plane[row_off : row_off + 8] = bytes(
                                block[r * 8 : r * 8 + 8]
                            )
            mcu_count += 1

    return _planes_to_raster(width, height, comps, scan, planes, hmax, vmax)


def _planes_to_raster(width, height, comps, scan, planes, hmax, vmax):
    """Upsample component planes (nearest) to full resolution and apply
    the JFIF YCbCr→RGB transform; grayscale passes through."""
    if len(scan) == 1:
        plane, pw = planes[comps[0]["id"]]
        out = bytearray(width * height)
        for y in range(height):
            out[y * width : (y + 1) * width] = plane[y * pw : y * pw + width]
        return width, height, 1, bytes(out)

    comp_planes = [(planes[c["id"]][0], planes[c["id"]][1], c["h"], c["v"]) for c in comps]
    out = bytearray(width * height * 3)
    for y in range(height):
        for x in range(width):
            samples = [
                plane[(y * v // vmax) * pw + (x * h // hmax)]
                for plane, pw, h, v in comp_planes
            ]
            yy, cb, cr = samples[0], samples[1] - 128, samples[2] - 128
            off = (y * width + x) * 3
            out[off] = min(255, max(0, int(round(yy + 1.402 * cr))))
            out[off + 1] = min(255, max(0, int(round(yy - 0.344136 * cb - 0.714136 * cr))))
            out[off + 2] = min(255, max(0, int(round(yy + 1.772 * cb))))
    return width, height, 3, bytes(out)


# ---------------------------------------------------------------------------
# Encoder: baseline SOF0, grayscale / 4:4:4 / 4:2:0.
# ---------------------------------------------------------------------------
# Simple valid canonical Huffman tables (uniform lengths — legal if
# inefficient; the decode path handles arbitrary DHTs incl. Annex K).
_ENC_DC_BITS = [0, 0, 0, 12] + [0] * 12  # all 12 DC size categories: 4 bits
_ENC_DC_VALS = bytes(range(12))
_ENC_AC_VALS = bytes(
    [0x00, 0xF0]
    + [(run << 4) | size for run in range(16) for size in range(1, 11)]
)
_ENC_AC_BITS = [0] * 7 + [len(_ENC_AC_VALS)] + [0] * 8  # all 162: 8 bits


def _quant_table(base: tuple[int, ...], quality: int) -> list[int]:
    """libjpeg quality scaling: 50 → base table, 100 → all ones."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [min(255, max(1, (b * scale + 50) // 100)) for b in base]


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

    def pad(self) -> None:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1s per spec

    def raw(self, data: bytes) -> None:
        """Append marker bytes verbatim (markers are never stuffed)."""
        self.out += data

    def flush(self) -> bytes:
        self.pad()
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


def encode_jpeg(
    width: int,
    height: int,
    channels: int,
    raster: bytes,
    quality: int = 92,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode an interleaved 8-bit raster (1 = gray, 3 = RGB) as a
    baseline JFIF JPEG. ``subsample=True`` emits 4:2:0 (2×2-averaged
    chroma); else 4:4:4. ``restart_interval`` > 0 emits a DRI segment
    and an RSTn marker (byte-aligned, DC predictors reset) every that
    many MCUs — what camera firmware does for error resilience, and
    what lets a parallel decoder split the scan."""
    if channels not in (1, 3):
        raise JpegError(f"encode: {channels}-channel raster unsupported")
    luma_q = _quant_table(_STD_LUMA_Q, quality)
    chroma_q = _quant_table(_STD_CHROMA_Q, quality)

    if channels == 1:
        yp = [
            [raster[y * width + x] for x in range(width)] for y in range(height)
        ]
        planes = [(yp, luma_q)]
    else:
        yp, cb, cr = [], [], []
        for y in range(height):
            ry, rb, rr = [], [], []
            for x in range(width):
                off = (y * width + x) * 3
                r, g, b = raster[off], raster[off + 1], raster[off + 2]
                ry.append(min(255, max(0, int(round(0.299 * r + 0.587 * g + 0.114 * b)))))
                rb.append(min(255, max(0, int(round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128)))))
                rr.append(min(255, max(0, int(round(0.5 * r - 0.418688 * g - 0.081312 * b + 128)))))
            yp.append(ry)
            cb.append(rb)
            cr.append(rr)
        if subsample:
            def down2(p):
                return [
                    [
                        (
                            p[2 * y][2 * x]
                            + p[2 * y][min(2 * x + 1, width - 1)]
                            + p[min(2 * y + 1, height - 1)][2 * x]
                            + p[min(2 * y + 1, height - 1)][min(2 * x + 1, width - 1)]
                            + 2
                        )
                        // 4
                        for x in range(-(-width // 2))
                    ]
                    for y in range(-(-height // 2))
                ]
            cb, cr = down2(cb), down2(cr)
        planes = [(yp, luma_q), (cb, chroma_q), (cr, chroma_q)]

    ydiv = 2 if (channels == 3 and subsample) else 1
    comp_hv = [(ydiv, ydiv)] + [(1, 1)] * (len(planes) - 1)

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, q in enumerate([luma_q] + ([chroma_q] if channels == 3 else [])):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(q)
    sof = struct.pack(">BHHB", 8, height, width, len(planes))
    for i, (h, v) in enumerate(comp_hv):
        tq = 0 if i == 0 else 1
        sof += struct.pack(">BBB", i + 1, (h << 4) | v, tq)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    dc_codes = _canonical_codes(_ENC_DC_BITS, _ENC_DC_VALS)
    ac_codes = _canonical_codes(_ENC_AC_BITS, _ENC_AC_VALS)
    for tclass, bits, vals in [(0, _ENC_DC_BITS, _ENC_DC_VALS), (1, _ENC_AC_BITS, _ENC_AC_VALS)]:
        for tid in range(2 if channels == 3 else 1):
            body = bytes([(tclass << 4) | tid]) + bytes(bits) + vals
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([len(planes)])
    for i in range(len(planes)):
        td = ta = 0 if i == 0 else 1
        sos += bytes([i + 1, (td << 4) | ta])
    sos += b"\x00\x3f\x00"  # Ss/Se/AhAl for sequential DCT
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    writer = _BitWriter()
    hmax = max(h for h, _ in comp_hv)
    vmax = max(v for _, v in comp_hv)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    dc_pred = [0] * len(planes)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            mcu_index = my * mcus_x + mx
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                writer.pad()
                rst_no = (mcu_index // restart_interval - 1) % 8
                writer.raw(bytes([0xFF, 0xD0 + rst_no]))
                dc_pred = [0] * len(planes)
            for ci, ((plane, q), (h, v)) in enumerate(zip(planes, comp_hv)):
                for by in range(v):
                    for bx in range(h):
                        block = _block_at(plane, (mx * h + bx) * 8, (my * v + by) * 8)
                        dc_pred[ci] = _encode_block(
                            writer, block, q, dc_pred[ci], dc_codes, ac_codes
                        )
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)
