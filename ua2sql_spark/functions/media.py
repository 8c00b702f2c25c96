"""Pure-stdlib media codecs behind the multimodal queries (SURVEY §2.11 X6).

Images: PPM/PGM binary, BMP 24/32-bpp, 8-bit PNG (all five scanline
filters, Adam7 interlacing, palette expansion), baseline JPEG (full T.81
sequential-DCT decode — Huffman, IDCT, chroma upsampling, restart
markers — see functions/jpeg.py), GIF (LZW, functions/gif.py),
uncompressed TIFF. Audio: PCM WAV, AIFF/AIFF-C, Sun AU (G.711 mu-law +
linear). No third-party libs. Formats whose full decode needs a native
codec (WebP, MP3 PCM, video pixels) raise naming the dependency, but
``probe_media_metadata`` still extracts their header-level metadata
(MP3 duration/bitrate via frame walk, MP4 duration/tracks via box walk),
which is what pipeline filters gate on.

The registered queries that run them: x153 (EXIF probe), x180 (WAV
features), x187 (decode, orient, downscale and JPEG re-encode a
thumbnail) and x205 (PNG round trip and dHash). ``fake_sample_frames``
is x83's deterministic stand-in: it derives frames from payload length
alone, so the DuckDB oracle can replicate it in SQL.
tests/test_media_codecs.py checks every codec on synthesized bytes.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib

FRAME_SIZE = 100  # fake codec: 1 "frame" per 100 payload bytes
FRAME_STRIDE = 10  # sample every 10th frame


# ---------------------------------------------------------------------------
# Real image decode: PPM/PGM (netpbm binary) + BMP (uncompressed).
# ---------------------------------------------------------------------------
def _parse_pnm(payload: bytes) -> tuple[int, int, int, int, bytes]:
    """Parse a binary netpbm header (P5 grayscale / P6 RGB). Returns
    (width, height, maxval, channels, raster). Handles '#' comments and
    arbitrary whitespace, per the netpbm spec."""
    magic = payload[:2]
    channels = {b"P5": 1, b"P6": 3}[magic]
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte before the raster
    width, height, maxval = tokens
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm samples not supported")
    raster = payload[pos : pos + width * height * channels]
    return width, height, maxval, channels, raster


def _parse_bmp(payload: bytes) -> tuple[int, int, int, list[bytes]]:
    """Parse an uncompressed 24/32-bpp BMP. Returns (width, height,
    bytes_per_px, rows) with rows in raster order, padding stripped."""
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"BMP bpp={bpp} compression={compression}: only uncompressed "
            "24/32-bpp supported without an image library"
        )
    height = abs(height)  # negative height = top-down row order
    bytes_px = bpp // 8
    stride = (width * bytes_px + 3) & ~3  # rows pad to 4 bytes
    rows = [
        payload[data_offset + r * stride : data_offset + r * stride + width * bytes_px]
        for r in range(height)
    ]
    return width, height, bytes_px, rows


PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+alpha, RGBA


# Adam7 interlace passes: (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_defilter(raw: bytes, rpos: int, width: int, height: int,
                  channels: int, bps: int = 1):
    """Undo PNG scanline filters for one (sub-)image starting at
    ``rpos``; returns (rows, new_rpos). ``bps`` = bytes per sample —
    PNG filters operate on BYTES with the 'left' distance equal to
    bytes-per-pixel (channels × bps), per the spec."""
    bpp = channels * bps
    stride = width * bpp
    if len(raw) - rpos < height * (stride + 1):
        raise NotImplementedError("PNG raster shorter than dimensions")
    rows = []
    prev = bytes(stride)
    for _y in range(height):
        ftype = raw[rpos]
        row = bytearray(raw[rpos + 1 : rpos + 1 + stride])
        rpos += 1 + stride
        if ftype == 1:  # Sub: left neighbour
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + (a + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth predictor
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ftype != 0:
            raise NotImplementedError(f"PNG filter type {ftype}")
        rows.append(bytes(row))
        prev = row
    return rows, rpos


def _parse_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """Parse + fully decode a PNG: critical chunks (IHDR/PLTE/IDAT/
    IEND), zlib inflate, all five scanline filters, Adam7 interlacing,
    and 8-bit palette expansion. 8-bit gray / RGB / gray+alpha / RGBA /
    indexed. Returns (width, height, channels, raster) with the raster
    defiltered to raw samples in row-major order. Pure stdlib (zlib is
    the whole compression layer of PNG); ancillary chunks are skipped;
    16-bit and sub-byte depths raise ``NotImplementedError``."""
    pos = len(PNG_SIG)
    width = height = channels = -1
    color = interlace = 0
    palette: list[bytes] = []
    idat = bytearray()
    try:
        while pos + 8 <= len(payload):
            (length,) = struct.unpack_from(">I", payload, pos)
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            if len(data) < length:
                raise NotImplementedError("truncated PNG chunk")
            pos += 12 + length  # length + type + data + crc
            if ctype == b"IHDR":
                width, height, depth, color, _comp, _filt, interlace = (
                    struct.unpack(">IIBBBBB", data)
                )
                if depth not in (8, 16) or (
                    color not in _PNG_CHANNELS and color != 3
                ) or (depth == 16 and color == 3):
                    raise NotImplementedError(
                        f"PNG bit_depth={depth} color_type={color}: only "
                        "8/16-bit gray/RGB/GA/RGBA and 8-bit indexed "
                        "decode natively"
                    )
                channels = 1 if color == 3 else _PNG_CHANNELS[color]
                bps = depth // 8
            elif ctype == b"PLTE":
                palette = [data[i : i + 3] for i in range(0, len(data), 3)]
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
        if channels < 0 or not idat:
            raise NotImplementedError("PNG missing IHDR/IDAT")
        raw = zlib.decompress(bytes(idat))
    except (struct.error, zlib.error) as exc:
        raise NotImplementedError(f"invalid PNG stream: {exc}") from exc

    bpp = channels * bps
    if interlace == 0:
        rows, _ = _png_defilter(raw, 0, width, height, channels, bps)
        out = bytearray().join(rows)
    elif interlace == 1:  # Adam7: 7 independently-filtered sub-images
        out = bytearray(width * height * bpp)
        rpos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            rows, rpos = _png_defilter(raw, rpos, pw, ph, channels, bps)
            for ry, row in enumerate(rows):
                y = y0 + ry * dy
                for rx in range(pw):
                    x = x0 + rx * dx
                    off = (y * width + x) * bpp
                    out[off : off + bpp] = row[rx * bpp : (rx + 1) * bpp]
    else:
        raise NotImplementedError(f"PNG interlace method {interlace}")
    if bps == 2:  # 16-bit samples: keep the high byte (big-endian)
        out = out[::2]

    if color == 3:  # expand indices through the palette
        if not palette:
            raise NotImplementedError("indexed PNG missing PLTE")
        expanded = bytearray(width * height * 3)
        for i, idx in enumerate(out):
            # A corrupt payload must degrade to NotImplementedError (the
            # probe/triage contract), never an IndexError that kills the
            # task; also reject short PLTE entries, whose 3-byte slice
            # assignment would silently shrink the raster.
            if idx >= len(palette) or len(palette[idx]) != 3:
                raise NotImplementedError(
                    f"PNG palette index {idx} outside {len(palette)}-entry PLTE"
                )
            expanded[3 * i : 3 * i + 3] = palette[idx]
        return width, height, 3, bytes(expanded)
    return width, height, channels, bytes(out)


def decode_raster(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode any natively-supported image payload to (width, height,
    channels, raster) with the raster as row-major interleaved 8-bit
    samples. Dispatches on magic bytes: netpbm P5/P6, BMP 24/32-bpp,
    PNG, baseline JPEG, GIF. Unsupported formats raise
    ``NotImplementedError`` naming the missing dependency."""
    magic = payload[:2]
    try:
        # Truncated/corrupt payloads surface as raw struct/Index/Value
        # errors from the binary parsers; the decode tier's contract is
        # NotImplementedError for ANYTHING it cannot decode, so a
        # mapInPandas operator's per-row guard stays airtight — a
        # corrupt payload must never kill a 100 TB job.
        if magic in (b"P5", b"P6"):
            width, height, maxval, channels, raster = _parse_pnm(payload)
            if len(raster) < width * height * channels:
                raise NotImplementedError("netpbm raster shorter than dimensions")
            if maxval != 255 and raster:  # normalize to 8-bit
                raster = bytes(min(255, s * 255 // maxval) for s in raster)
            return width, height, channels, raster
        if magic == b"BM":
            width, height, bytes_px, rows = _parse_bmp(payload)
            if any(len(row) < width * bytes_px for row in rows):
                raise NotImplementedError("BMP pixel data shorter than dimensions")
            # BMP rows are bottom-up BGR(A); emit top-down RGB
            out = bytearray()
            for row in reversed(rows):
                for x in range(width):
                    px = row[x * bytes_px : x * bytes_px + 3]
                    out += bytes([px[2], px[1], px[0]])
            return width, height, 3, bytes(out)
        if payload[: len(PNG_SIG)] == PNG_SIG:
            return _parse_png(payload)
        if magic == b"\xff\xd8":
            from ua2sql_spark.functions.jpeg import decode_jpeg

            return decode_jpeg(payload)
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            from ua2sql_spark.functions.gif import decode_gif

            return decode_gif(payload)
        if payload[:4] in (b"II*\x00", b"MM\x00*"):
            return _parse_tiff(payload)
    except (struct.error, IndexError, ValueError, KeyError) as exc:
        raise NotImplementedError(f"corrupt image payload: {exc!r}") from exc
    raise NotImplementedError(
        f"image magic {magic!r}: WebP/video formats need "
        "PIL/opencv/ffmpeg, not in this container; PPM/PGM/BMP/PNG/"
        "baseline-JPEG/GIF/uncompressed-TIFF decode natively"
    )


def apply_exif_orientation(
    width: int, height: int, channels: int, raster: bytes, orientation: int | None
) -> tuple[int, int, bytes]:
    """Re-map a decoded raster to upright per its EXIF orientation tag
    (1..8; None/0/1 are identity). Orientations 5-8 swap the output
    dimensions. Per-output-pixel source lookup — the same access
    pattern as the nearest-neighbour resample it runs beside."""
    if orientation in (None, 0, 1):
        return width, height, raster
    if orientation not in (2, 3, 4, 5, 6, 7, 8):
        raise ValueError(f"EXIF orientation out of range: {orientation}")
    swap = orientation >= 5
    dw, dh = (height, width) if swap else (width, height)
    out = bytearray(len(raster))
    for dy in range(dh):
        for dx in range(dw):
            if orientation == 2:      # flip horizontal
                sx, sy = width - 1 - dx, dy
            elif orientation == 3:    # rotate 180
                sx, sy = width - 1 - dx, height - 1 - dy
            elif orientation == 4:    # flip vertical
                sx, sy = dx, height - 1 - dy
            elif orientation == 5:    # transpose (main diagonal)
                sx, sy = dy, dx
            elif orientation == 6:    # stored needs 90 deg CW to display
                sx, sy = dy, height - 1 - dx
            elif orientation == 7:    # transverse (anti-diagonal)
                sx, sy = width - 1 - dy, height - 1 - dx
            else:                     # 8: stored needs 270 deg CW
                sx, sy = width - 1 - dy, dx
            so = (sy * width + sx) * channels
            do = (dy * dw + dx) * channels
            out[do : do + channels] = raster[so : so + channels]
    return dw, dh, bytes(out)


def thumbnail_real(
    payload: bytes,
    target_long_side: int = 256,
    quality: int = 85,
    apply_orientation: bool = True,
) -> tuple[bytes, int, int]:
    """The production thumbnail chain, pure stdlib end-to-end: decode
    any supported format (:func:`decode_raster`), EXIF-orient upright
    (JPEG sources; BEFORE the downscale, so a rotated portrait is not
    scaled against the wrong long side — VERDICT r6 next-round #7),
    aspect-preserving nearest-neighbour downscale (never upscales),
    re-encode as baseline JPEG (4:2:0 for color). Grayscale sources
    stay single-channel. Returns (jpeg_bytes, width, height) — the
    dimensions are known from the resize itself, so callers never pay
    a decode of the thumb just to learn its geometry."""
    from ua2sql_spark.functions.jpeg import encode_jpeg

    width, height, channels, raster = decode_raster(payload)
    if apply_orientation and payload[:2] == b"\xff\xd8":
        ori = parse_exif(payload)["orientation"]
        width, height, raster = apply_exif_orientation(
            width, height, channels, raster, ori
        )
    new_w, new_h = resize_dims(width, height, target_long_side)
    if channels not in (1, 3):  # flatten alpha variants to their color channels
        keep = 1 if channels == 2 else 3
        raster = bytes(
            raster[i * channels + c] for i in range(width * height) for c in range(keep)
        )
        channels = keep
    if (new_w, new_h) != (width, height):
        out = bytearray()
        for y in range(new_h):
            sy = y * height // new_h
            for x in range(new_w):
                sx = x * width // new_w
                off = (sy * width + sx) * channels
                out += raster[off : off + channels]
        raster, width, height = bytes(out), new_w, new_h
    return (
        encode_jpeg(
            width, height, channels, raster, quality=quality,
            subsample=channels == 3,
        ),
        width,
        height,
    )


# ---------------------------------------------------------------------------
# Real audio decode: PCM WAV via the stdlib wave module.
# ---------------------------------------------------------------------------
def _pcm16_rms(frames: bytes) -> float:
    """RMS of little-endian 16-bit PCM frames.

    Vectorized when numpy is available: the sum of squares is exact
    integer arithmetic either way (int64 accumulation cannot overflow
    below ~2^33 samples, far past any in-memory payload), so the numpy
    and stdlib paths return the bit-identical double — this is a
    throughput knob on the decode seam, never a value change."""
    if not frames:
        return 0.0
    try:
        import numpy as np

        a = np.frombuffer(frames, dtype="<i2").astype(np.int64)
        return float((int(np.dot(a, a)) / a.size) ** 0.5)
    except ImportError:
        samples = struct.unpack(f"<{len(frames) // 2}h", frames)
        return (sum(s * s for s in samples) / len(samples)) ** 0.5


def decode_audio_real(payload: bytes) -> dict:
    """Decode an audio payload to (channels, sample_rate, n_samples,
    duration_s, rms). Containers: 16-bit PCM WAV, AIFF/AIFF-C (16-bit
    PCM), Sun AU (G.711 mu-law + 8/16-bit linear). Compressed audio
    (MP3/AAC/...) raises — use :func:`probe_media_metadata` for the
    header-level duration/bitrate those formats still expose."""
    if payload[:4] == b"FORM" and payload[8:12] in (b"AIFF", b"AIFC"):
        return _samples_stats(*_parse_aiff(payload))
    if payload[:4] == b".snd":
        return _samples_stats(*_parse_au(payload))
    try:
        with wave.open(io.BytesIO(payload)) as w:
            if w.getsampwidth() != 2 or w.getcomptype() != "NONE":
                raise NotImplementedError(
                    "only 16-bit PCM WAV decodes natively; compressed "
                    "audio needs ffmpeg/soundfile"
                )
            channels, rate = w.getnchannels(), w.getframerate()
            n = w.getnframes()
            frames = w.readframes(n)
    except wave.Error as exc:
        raise NotImplementedError(f"not a PCM WAV payload: {exc}") from exc
    rms = _pcm16_rms(frames)
    return {
        "channels": channels,
        "sample_rate": rate,
        "n_samples": n,
        "duration_s": n / rate if rate else 0.0,
        "rms": rms,
    }


def resize_dims(width: int, height: int, target_long_side: int) -> tuple[int, int]:
    """Aspect-preserving integer resize arithmetic (floor), long side
    clamped to ``target_long_side``; never upscales."""
    long_side = max(width, height)
    if long_side <= target_long_side or long_side == 0:
        return width, height
    return (
        width * target_long_side // long_side,
        height * target_long_side // long_side,
    )


def fake_sample_frames(
    doc_id: int,
    payload: bytes,
    frame_size: int = FRAME_SIZE,
    stride: int = FRAME_STRIDE,
) -> list[dict]:
    """Deterministic stand-in: the payload holds one 'frame' per
    ``frame_size`` bytes; emit every ``stride``-th frame with its byte
    offset and an md5 'thumbnail hash' of (doc_id, frame_no)."""
    n_frames = len(payload) // frame_size
    out = []
    for frame_no in range(0, n_frames, stride):
        out.append(
            {
                "frame_no": frame_no,
                "frame_offset": frame_no * frame_size,
                "frame_hash": hashlib.md5(
                    f"{doc_id}|{frame_no}".encode()
                ).hexdigest(),
            }
        )
    return out


# ---------------------------------------------------------------------------
# Real TIFF decode: baseline uncompressed, 8-bit, gray/RGB/RGBA, both
# byte orders, strip layout. Compressed variants (LZW/Deflate/JPEG-in-
# TIFF) raise naming the scheme.
# ---------------------------------------------------------------------------
def _parse_tiff(payload: bytes) -> tuple[int, int, int, bytes]:
    order = payload[:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        raise NotImplementedError("not a TIFF stream")
    if struct.unpack_from(e + "H", payload, 2)[0] != 42:
        raise NotImplementedError("bad TIFF magic")
    ifd = struct.unpack_from(e + "I", payload, 4)[0]
    n = struct.unpack_from(e + "H", payload, ifd)[0]
    _TYPE_SIZE = {1: 1, 3: 2, 4: 4}

    def read_tag(pos: int) -> tuple[int, list[int]]:
        tag, ttype, count = struct.unpack_from(e + "HHI", payload, pos)
        if ttype not in _TYPE_SIZE:
            return tag, []
        size = _TYPE_SIZE[ttype] * count
        off = pos + 8 if size <= 4 else struct.unpack_from(e + "I", payload, pos + 8)[0]
        fmt = {1: "B", 3: "H", 4: "I"}[ttype]
        return tag, list(struct.unpack_from(e + str(count) + fmt, payload, off))

    tags = dict(read_tag(ifd + 2 + 12 * i) for i in range(n))
    width = tags.get(256, [0])[0]
    height = tags.get(257, [0])[0]
    compression = tags.get(259, [1])[0]
    photometric = tags.get(262, [1])[0]
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [8] * spp)
    planar = tags.get(284, [1])[0]
    if compression != 1:
        raise NotImplementedError(
            f"TIFF compression scheme {compression}: only uncompressed "
            "decodes natively (LZW/Deflate/JPEG-in-TIFF need libtiff)"
        )
    if any(b != 8 for b in bits) or planar != 1 or photometric not in (0, 1, 2):
        raise NotImplementedError(
            f"TIFF bits={bits} planar={planar} photometric={photometric}: "
            "only 8-bit chunky gray/RGB supported"
        )
    if not width or not height or 273 not in tags or 279 not in tags:
        raise NotImplementedError("TIFF missing required tags")
    raster = bytearray()
    for off, cnt in zip(tags[273], tags[279]):
        raster += payload[off : off + cnt]
    need = width * height * spp
    if len(raster) < need:
        raise NotImplementedError("TIFF strips shorter than dimensions")
    raster = raster[:need]
    if photometric == 0:  # WhiteIsZero: invert to the usual polarity
        raster = bytes(255 - s for s in raster)
    return width, height, spp, bytes(raster)


# ---------------------------------------------------------------------------
# Real audio decode: AIFF (big-endian PCM, 80-bit extended-float rate)
# and Sun AU (G.711 mu-law + linear PCM) — parsed with struct directly,
# no deprecated stdlib audio modules.
# ---------------------------------------------------------------------------
def _ext80_to_float(b: bytes) -> float:
    """IEEE 754 80-bit extended float (AIFF sample-rate field)."""
    (se,) = struct.unpack(">H", b[:2])
    (mant,) = struct.unpack(">Q", b[2:10])
    exp = se & 0x7FFF
    if exp == 0 and mant == 0:
        return 0.0
    val = mant * 2.0 ** (exp - 16383 - 63)
    return -val if se & 0x8000 else val


def _parse_aiff(payload: bytes) -> tuple[int, int, int, list[int]]:
    """(channels, rate, n_frames, samples) for an AIFF/AIFF-C file.
    16-bit PCM only; compressed AIFF-C raises naming the codec."""
    if payload[:4] != b"FORM" or payload[8:12] not in (b"AIFF", b"AIFC"):
        raise NotImplementedError("not an AIFF stream")
    is_aifc = payload[8:12] == b"AIFC"
    pos = 12
    channels = rate = n_frames = sampwidth = None
    samples: list[int] = []
    ssnd = None
    little = False  # AIFF-C 'sowt' = byte-swapped (little-endian) PCM
    while pos + 8 <= len(payload):
        ckid = payload[pos : pos + 4]
        (size,) = struct.unpack_from(">I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks pad to even
        if ckid == b"COMM":
            channels, n_frames, bits = struct.unpack_from(">hIh", body, 0)
            rate = int(round(_ext80_to_float(body[8:18])))
            sampwidth = bits
            if is_aifc and len(body) >= 22:
                if body[18:22] == b"sowt":
                    little = True
                elif body[18:22] != b"NONE":
                    raise NotImplementedError(
                        f"AIFF-C compression {body[18:22]!r} needs an audio codec"
                    )
        elif ckid == b"SSND":
            (offset, _block) = struct.unpack_from(">II", body, 0)
            ssnd = body[8 + offset :]
    if channels is None or ssnd is None:
        raise NotImplementedError("AIFF missing COMM/SSND")
    if sampwidth != 16:
        raise NotImplementedError(f"AIFF {sampwidth}-bit samples unsupported")
    n = min(n_frames * channels, len(ssnd) // 2)
    endian = "<" if little else ">"
    samples = list(struct.unpack(f"{endian}{n}h", ssnd[: 2 * n]))
    return channels, rate, n_frames, samples


def _mulaw_expand(u: int) -> int:
    """G.711 mu-law byte -> linear 16-bit sample."""
    u = ~u & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    sample = (((mant << 3) + 0x84) << exp) - 0x84
    return -sample if sign else sample


def _parse_au(payload: bytes) -> tuple[int, int, int, list[int]]:
    """(channels, rate, n_frames, samples) for a Sun AU file.
    Encodings: 1 = 8-bit G.711 mu-law, 2 = 8-bit linear, 3 = 16-bit
    linear big-endian."""
    if payload[:4] != b".snd":
        raise NotImplementedError("not an AU stream")
    _magic, offset, size, enc, rate, channels = struct.unpack_from(">6I", payload, 0)
    data = payload[offset : offset + size if size != 0xFFFFFFFF else len(payload)]
    if enc == 1:
        samples = [_mulaw_expand(b) for b in data]
    elif enc == 2:
        samples = [(b - 256 if b >= 128 else b) << 8 for b in data]
    elif enc == 3:
        samples = list(struct.unpack(f">{len(data) // 2}h", data[: len(data) & ~1]))
    else:
        raise NotImplementedError(f"AU encoding {enc}: needs an audio codec")
    n_frames = len(samples) // max(1, channels)
    return channels, rate, n_frames, samples


def _samples_stats(channels, rate, n_frames, samples) -> dict:
    rms = (sum(s * s for s in samples) / len(samples)) ** 0.5 if samples else 0.0
    return {
        "channels": channels,
        "sample_rate": rate,
        "n_samples": n_frames,
        "duration_s": n_frames / rate if rate else 0.0,
        "rms": rms,
    }


# ---------------------------------------------------------------------------
# Metadata probing for formats whose FULL decode genuinely needs a
# native codec: MP3 (frame-header walk -> duration/bitrate) and
# MP4/MOV (box walk -> duration/track count). This is the part a
# pipeline FILTER needs (drop audio < 1 s, video > 10 min) — honest
# scope: no PCM/pixels are decoded.
# ---------------------------------------------------------------------------
_MP3_BITRATES_V1L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_MP3_BITRATES_V2L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000), 0: (11025, 12000, 8000)}


def probe_mp3(payload: bytes) -> dict:
    """Walk MPEG audio frame headers: (sample_rate, mean bitrate_kbps,
    n_frames, duration_s). Skips an ID3v2 prefix; stops at the first
    unsynced byte after at least one valid frame."""
    pos = 0
    if payload[:3] == b"ID3":  # syncsafe 28-bit size
        size = (
            (payload[6] & 0x7F) << 21 | (payload[7] & 0x7F) << 14
            | (payload[8] & 0x7F) << 7 | (payload[9] & 0x7F)
        )
        pos = 10 + size
    n_frames = 0
    duration = 0.0
    kbps_total = 0
    rate = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF or (payload[pos + 1] & 0xE0) != 0xE0:
            break
        version = (payload[pos + 1] >> 3) & 0x03  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer = (payload[pos + 1] >> 1) & 0x03    # 1 = Layer III
        br_idx = (payload[pos + 2] >> 4) & 0x0F
        sr_idx = (payload[pos + 2] >> 2) & 0x03
        padding = (payload[pos + 2] >> 1) & 0x01
        if version == 1 or layer != 1 or br_idx in (0, 15) or sr_idx == 3:
            break
        table = _MP3_BITRATES_V1L3 if version == 3 else _MP3_BITRATES_V2L3
        kbps = table[br_idx]
        rate = _MP3_RATES[version][sr_idx]
        spf = 1152 if version == 3 else 576  # samples per Layer III frame
        frame_len = spf // 8 * kbps * 1000 // rate + padding
        if frame_len <= 4:
            break
        n_frames += 1
        duration += spf / rate
        kbps_total += kbps
        pos += frame_len
    if n_frames == 0:
        raise NotImplementedError("no MPEG audio frames found")
    return {
        "sample_rate": rate,
        "bitrate_kbps": kbps_total // n_frames,
        "n_frames": n_frames,
        "duration_s": duration,
    }


def probe_mp4(payload: bytes) -> dict:
    """Walk ISO-BMFF boxes: (duration_s, n_tracks, brand) from
    moov/mvhd. Handles 32- and 64-bit box sizes and mvhd v0/v1."""
    brand = None
    duration = None
    n_tracks = 0

    def walk(lo: int, hi: int, depth: int = 0) -> None:
        nonlocal brand, duration, n_tracks
        pos = lo
        while pos + 8 <= hi:
            (size,) = struct.unpack_from(">I", payload, pos)
            btype = payload[pos + 4 : pos + 8]
            head = 8
            if size == 1:
                (size,) = struct.unpack_from(">Q", payload, pos + 8)
                head = 16
            elif size == 0:
                size = hi - pos
            if size < head:
                break
            if btype == b"ftyp":
                brand = payload[pos + head : pos + head + 4].decode("ascii", "replace")
            elif btype == b"moov":
                walk(pos + head, pos + size, depth + 1)
            elif btype == b"trak":
                n_tracks += 1
            elif btype == b"mvhd":
                ver = payload[pos + head]
                if ver == 1:
                    ts, dur = struct.unpack_from(">IQ", payload, pos + head + 20)
                else:
                    ts, dur = struct.unpack_from(">II", payload, pos + head + 12)
                duration = dur / ts if ts else 0.0
            pos += size

    walk(0, len(payload))
    if brand is None and duration is None:
        raise NotImplementedError("not an ISO-BMFF (MP4/MOV) stream")
    return {"brand": brand, "duration_s": duration, "n_tracks": n_tracks}


def probe_image_dims(payload: bytes) -> tuple[int, int]:
    """Header-only image dimensions — the triage path must NEVER pay a
    pixel decode just to learn geometry (a 12 MP baseline JPEG costs
    minutes of pure-Python IDCT; its SOF header carries the dims in
    microseconds). Every supported container stores dims in its first
    few dozen bytes or marker segments:

    * PNG: IHDR is mandated to be the first chunk (bytes 16..24)
    * GIF: logical screen descriptor (bytes 6..10)
    * BMP: BITMAPINFOHEADER (offset 18)
    * netpbm: ASCII header tokens
    * JPEG: SOFn marker walk — works for progressive/arithmetic frames
      too, whose full decode raises
    * TIFF: IFD entry walk for tags 256/257 (no strip reads)

    Raises NotImplementedError for unrecognized containers AND for
    truncated/corrupt headers (the same contract as the decode tier —
    a recognized magic followed by garbage must not crash a task)."""
    try:
        return _probe_image_dims(payload)
    except (struct.error, IndexError, ValueError) as exc:
        raise NotImplementedError(f"truncated/corrupt image header: {exc}") from exc


def _probe_image_dims(payload: bytes) -> tuple[int, int]:
    if payload[: len(PNG_SIG)] == PNG_SIG:
        if len(payload) < 24 or payload[12:16] != b"IHDR":
            raise NotImplementedError("PNG missing leading IHDR")
        w, h = struct.unpack_from(">II", payload, 16)
        return w, h
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack_from("<HH", payload, 6)
        return w, h
    if payload[:2] == b"BM":
        w, h = struct.unpack_from("<ii", payload, 18)
        return w, abs(h)
    if payload[:2] in (b"P5", b"P6"):
        w, h, _, _, _ = _parse_pnm(payload)
        return w, h
    if payload[:2] == b"\xff\xd8":
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                break
            marker = payload[pos + 1]
            if marker == 0xFF:  # spec-legal fill byte before a marker
                pos += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (seglen,) = struct.unpack_from(">H", payload, pos + 2)
            # any SOFn except DHT(C4)/JPGext(C8)/DAC(CC) carries dims
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack_from(">HH", payload, pos + 5)
                return w, h
            pos += 2 + seglen
        raise NotImplementedError("JPEG stream without SOF marker")
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        endian = "<" if payload[:2] == b"II" else ">"
        (ifd,) = struct.unpack_from(endian + "I", payload, 4)
        (n_entries,) = struct.unpack_from(endian + "H", payload, ifd)
        w = h = None
        for i in range(n_entries):
            off = ifd + 2 + 12 * i
            tag, typ = struct.unpack_from(endian + "HH", payload, off)
            if tag in (256, 257):
                val = struct.unpack_from(
                    endian + ("H" if typ == 3 else "I"), payload, off + 8
                )[0]
                if tag == 256:
                    w = val
                else:
                    h = val
        if w is None or h is None:
            raise NotImplementedError("TIFF missing dimension tags")
        return w, h
    raise NotImplementedError("unrecognized image container")


# ---------------------------------------------------------------------------
# JPEG EXIF: orientation + capture timestamp — the highest-frequency
# metadata a multimodal pipeline reads (orientation decides whether the
# decode needs a rotate; DateTimeOriginal drives temporal dedup/splits).
# APP1 "Exif\0\0" holds a little TIFF: IFD0 carries Orientation (0x0112)
# and DateTime (0x0132); the Exif sub-IFD (pointer 0x8769) carries
# DateTimeOriginal (0x9003).
# ---------------------------------------------------------------------------
_EXIF_EMPTY = {"orientation": None, "datetime": None, "datetime_original": None}


def encode_exif_app1(
    orientation: int = 1,
    datetime_str: str | None = None,
    datetime_original: str | None = None,
) -> bytes:
    """A complete JPEG APP1/Exif segment (marker included) carrying the
    given tags — splice it right after SOI to EXIF-tag any JPEG. Writer
    half of :func:`parse_exif`, used by the round-trip tests and the
    x-query's deterministic per-doc injection."""

    def ascii20(s: str) -> bytes:
        b = s.encode("ascii")[:19]
        return b + b"\x00" * (20 - len(b))

    entries: list[tuple[int, int, int, bytes]] = [
        (0x0112, 3, 1, struct.pack("<H", orientation) + b"\x00\x00")
    ]
    data_area = b""
    n_ifd0 = 1 + (datetime_str is not None) + (datetime_original is not None)
    # value offsets are relative to the TIFF header; IFD0 starts at 8,
    # its body is 2 + 12*n + 4 (count, entries, next-IFD pointer)
    data_base = 8 + 2 + 12 * n_ifd0 + 4
    if datetime_str is not None:
        entries.append(
            (0x0132, 2, 20, struct.pack("<I", data_base + len(data_area)))
        )
        data_area += ascii20(datetime_str)
    if datetime_original is not None:
        sub_off = data_base + len(data_area)
        entries.append((0x8769, 4, 1, struct.pack("<I", sub_off)))
        # sub-IFD: one entry (DateTimeOriginal), value right after it
        sub_val = sub_off + 2 + 12 + 4
        data_area += (
            struct.pack("<H", 1)
            + struct.pack("<HHI", 0x9003, 2, 20)
            + struct.pack("<I", sub_val)
            + struct.pack("<I", 0)
            + ascii20(datetime_original)
        )
    entries.sort(key=lambda e: e[0])
    ifd0 = (
        struct.pack("<H", n_ifd0)
        + b"".join(struct.pack("<HHI", t, ty, c) + v for t, ty, c, v in entries)
        + struct.pack("<I", 0)
    )
    tiff = b"II*\x00" + struct.pack("<I", 8) + ifd0 + data_area
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def parse_exif(payload: bytes) -> dict:
    """Extract orientation / DateTime / DateTimeOriginal from a JPEG's
    APP1 Exif segment. Returns the all-None dict for non-JPEG payloads,
    JPEGs without EXIF, and truncated/corrupt EXIF blocks — the probe
    tier's never-raise contract."""
    try:
        return _parse_exif(payload)
    except (struct.error, IndexError, ValueError, UnicodeDecodeError):
        return dict(_EXIF_EMPTY)


def _parse_exif(payload: bytes) -> dict:
    out = dict(_EXIF_EMPTY)
    if payload[:2] != b"\xff\xd8":
        return out
    pos = 2
    tiff: bytes | None = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            break
        marker = payload[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker in (0xDA, 0xD9):  # SOS/EOI: APP segments are done
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        if marker == 0xE1 and payload[pos + 4 : pos + 10] == b"Exif\x00\x00":
            tiff = payload[pos + 10 : pos + 2 + seglen]
            break
        pos += 2 + seglen
    if tiff is None:
        return out
    if tiff[:2] == b"II":
        e = "<"
    elif tiff[:2] == b"MM":
        e = ">"
    else:
        return out

    def read_ifd(ifd_off: int) -> dict[int, tuple[int, int, int]]:
        (count,) = struct.unpack_from(e + "H", tiff, ifd_off)
        found = {}
        for i in range(count):
            base = ifd_off + 2 + 12 * i
            tag, typ, cnt = struct.unpack_from(e + "HHI", tiff, base)
            found[tag] = (typ, cnt, base + 8)
        return found

    def ascii_value(typ: int, cnt: int, val_off: int) -> str | None:
        if typ != 2:
            return None
        off = val_off if cnt <= 4 else struct.unpack_from(e + "I", tiff, val_off)[0]
        return tiff[off : off + cnt].split(b"\x00")[0].decode("ascii")

    (ifd0_off,) = struct.unpack_from(e + "I", tiff, 4)
    ifd0 = read_ifd(ifd0_off)
    if 0x0112 in ifd0 and ifd0[0x0112][0] == 3:
        out["orientation"] = struct.unpack_from(e + "H", tiff, ifd0[0x0112][2])[0]
    if 0x0132 in ifd0:
        out["datetime"] = ascii_value(*ifd0[0x0132])
    if 0x8769 in ifd0 and ifd0[0x8769][0] in (4, 13):
        (sub_off,) = struct.unpack_from(e + "I", tiff, ifd0[0x8769][2])
        sub = read_ifd(sub_off)
        if 0x9003 in sub:
            out["datetime_original"] = ascii_value(*sub[0x9003])
    return out


def probe_media_metadata(payload: bytes) -> dict:
    """Unified media probe: (kind, width, height, duration_s,
    sample_rate, n_tracks) with NULLs for inapplicable fields — the
    single-pass metadata pipeline filters gate on (drop images under
    64 px, audio under 1 s, video over 10 min) without full decode.
    Unknown formats return kind='unknown' rather than raising: a
    corrupt payload must never kill a 100 TB job."""
    out = {
        "kind": "unknown",
        "width": None,
        "height": None,
        "duration_s": None,
        "sample_rate": None,
        "n_tracks": None,
        # JPEG EXIF (None elsewhere): orientation decides rotate-on-
        # decode; the capture timestamp (DateTimeOriginal, falling back
        # to DateTime) drives temporal splits/dedup
        "exif_orientation": None,
        "exif_datetime": None,
    }
    is_image = (
        payload[:2] in (b"P5", b"P6", b"BM", b"\xff\xd8")
        or payload[: len(PNG_SIG)] == PNG_SIG
        or payload[:6] in (b"GIF87a", b"GIF89a")
        or payload[:4] in (b"II*\x00", b"MM\x00*")
    )
    is_container_audio = (
        payload[:4] == b".snd"
        or (payload[:4] == b"FORM" and payload[8:12] in (b"AIFF", b"AIFC"))
        or (payload[:4] == b"RIFF" and payload[8:12] == b"WAVE")
    )
    try:
        if is_image:
            w, h = probe_image_dims(payload)  # header-only, no pixel decode
            out.update(kind="image", width=w, height=h)
            if payload[:2] == b"\xff\xd8":
                ex = parse_exif(payload)
                out.update(
                    exif_orientation=ex["orientation"],
                    exif_datetime=ex["datetime_original"] or ex["datetime"],
                )
        elif is_container_audio:
            d = decode_audio_real(payload)
            out.update(
                kind="audio",
                duration_s=d["duration_s"],
                sample_rate=d["sample_rate"],
                n_tracks=d["channels"],
            )
        elif payload[:3] == b"ID3" or (
            len(payload) > 2 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
        ):
            d = probe_mp3(payload)
            out.update(
                kind="audio",
                duration_s=d["duration_s"],
                sample_rate=d["sample_rate"],
                n_tracks=1,
            )
        elif payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            d = probe_webp(payload)
            out.update(kind="image", width=d["width"], height=d["height"])
        elif len(payload) > 12 and payload[4:8] == b"ftyp":
            d = probe_mp4(payload)
            out.update(
                kind="video", duration_s=d["duration_s"], n_tracks=d["n_tracks"]
            )
    except (NotImplementedError, struct.error, IndexError, ValueError):
        # Recognized magic + truncated body raises raw parse errors from
        # the header walkers — the probe's contract is NEVER to raise.
        pass  # leave kind='unknown'
    return out


def probe_webp(payload: bytes) -> dict:
    """WebP header probe: (width, height, variant) from the VP8 (lossy
    key-frame header), VP8L (lossless 14-bit dims), or VP8X (extended,
    24-bit canvas dims) chunk. Pixel decode needs libwebp — dimensions
    are what ingest filters gate on."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise NotImplementedError("not a WebP stream")
    fourcc = payload[12:16]
    if fourcc == b"VP8 ":  # lossy: key-frame start code then 14-bit dims
        if payload[23:26] != b"\x9d\x01\x2a":
            raise NotImplementedError("WebP VP8 chunk missing key frame")
        w, h = struct.unpack_from("<HH", payload, 26)
        return {"width": w & 0x3FFF, "height": h & 0x3FFF, "variant": "lossy"}
    if fourcc == b"VP8L":  # lossless: signature byte then 2x14 bits
        if payload[20] != 0x2F:
            raise NotImplementedError("WebP VP8L bad signature")
        (bits,) = struct.unpack_from("<I", payload, 21)
        return {
            "width": (bits & 0x3FFF) + 1,
            "height": ((bits >> 14) & 0x3FFF) + 1,
            "variant": "lossless",
        }
    if fourcc == b"VP8X":  # extended: 24-bit canvas dims minus one
        w = int.from_bytes(payload[24:27], "little") + 1
        h = int.from_bytes(payload[27:30], "little") + 1
        return {"width": w, "height": h, "variant": "extended"}
    raise NotImplementedError(f"WebP chunk {fourcc!r} unsupported")


def encode_png_gray(width: int, height: int, raster: bytes) -> bytes:
    """Encode an 8-bit grayscale raster as a real PNG (filter 0 rows,
    one zlib IDAT) — the lossless counterpart of jpeg.encode_jpeg:
    ``decode_raster(encode_png_gray(w, h, r)) == (w, h, 1, r)`` exactly,
    which is what makes PNG the right carrier for pixel-exact codec
    round-trip contracts (x205)."""
    if len(raster) != width * height:
        raise ValueError(f"raster {len(raster)} != {width}x{height}")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + raster[y * width : (y + 1) * width] for y in range(height)
    )
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def dhash64(payload: bytes) -> tuple[int, int]:
    """Perceptual difference-hash of a decodable image, returned as two
    non-negative 32-bit halves (lo = bits 0-31, hi = bits 32-63) so
    downstream engines can band/XOR them without touching a signed
    64-bit sign bit.

    The classic dHash recipe with every step pinned to integer
    arithmetic: decode via the production codec tier, collapse channels
    by integer mean, sample a 9x8 grid nearest-floor
    (``sx = gx*w//9``, ``sy = gy*h//8``), and set bit ``gy*8+gx`` when
    the right neighbor is strictly brighter. Unsupported payloads
    raise ``NotImplementedError`` from the decode tier."""
    width, height, channels, raster = decode_raster(payload)
    if width < 9 or height < 8:
        raise NotImplementedError(f"dhash64 needs >=9x8 pixels, got {width}x{height}")

    def gray(sx: int, sy: int) -> int:
        base = (sy * width + sx) * channels
        if channels == 1:
            return raster[base]
        return sum(raster[base : base + channels]) // channels

    grid = [
        [gray(gx * width // 9, gy * height // 8) for gx in range(9)]
        for gy in range(8)
    ]
    lo = hi = 0
    for gy in range(8):
        for gx in range(8):
            if grid[gy][gx + 1] > grid[gy][gx]:
                b = gy * 8 + gx
                if b < 32:
                    lo |= 1 << b
                else:
                    hi |= 1 << (b - 32)
    return lo, hi
