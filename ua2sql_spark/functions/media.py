"""Pure-stdlib media codecs behind the multimodal queries (SURVEY §2.11 X6).

Every payload these codecs see is one a registered query builds with
the engine's own encoders, so each accepts exactly what those encoders
emit and raises ``NotImplementedError`` for anything else:

* images: the grayscale PNG of :func:`encode_png_gray` (8-bit, not
  interlaced, filter-0 rows) and the single-component baseline JPEG of
  ``functions/jpeg.py``;
* audio: 16-bit PCM WAV, read through the stdlib ``wave`` module;
* metadata: the JPEG SOF0 dimensions and the Orientation and
  DateTimeOriginal tags of :func:`encode_exif_app1`'s APP1 segment.

The registered queries that run them: x153 (EXIF probe), x180 (WAV
features), x187 (decode, orient, downscale and JPEG re-encode a
thumbnail) and x205 (PNG round trip and dHash). ``fake_sample_frames``
is x83's deterministic stand-in: it derives frames from payload length
alone, so the DuckDB oracle can replicate it in SQL.
``tests/test_media_codecs.py::test_every_codec_function_runs_under_a_query``
checks that each function here runs under one of those queries.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib

import numpy as np

from ua2sql_spark.functions.jpeg import decode_jpeg, encode_jpeg

FRAME_SIZE = 100  # fake codec: 1 "frame" per 100 payload bytes
FRAME_STRIDE = 10  # sample every 10th frame

PNG_SIG = b"\x89PNG\r\n\x1a\n"
JPEG_SOI = b"\xff\xd8"


def _parse_png(payload: bytes) -> tuple[int, int, bytes]:
    """(width, height, raster) of what :func:`encode_png_gray` writes:
    IHDR 8-bit gray without interlacing, IDAT, IEND, and one filter-0
    byte before each row. Ancillary chunks are skipped."""
    pos = len(PNG_SIG)
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None or ihdr[2:] != (8, 0, 0, 0, 0):
        raise NotImplementedError(
            f"PNG header {ihdr}: only 8-bit grayscale without interlacing decodes"
        )
    width, height = ihdr[:2]
    raw = zlib.decompress(bytes(idat))
    stride = width + 1
    if len(raw) != height * stride or any(raw[y * stride] for y in range(height)):
        raise NotImplementedError("PNG rows other than filter 0 do not decode")
    return width, height, b"".join(raw[y * stride + 1 : (y + 1) * stride] for y in range(height))


def decode_raster(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a grayscale PNG or JPEG to (width, height, raster), the
    raster one 8-bit sample per pixel in row-major order. Every other
    payload raises ``NotImplementedError``, a corrupt one included, so
    a ``mapInPandas`` batch's per-row guard catches one exception type."""
    try:
        if payload[: len(PNG_SIG)] == PNG_SIG:
            return _parse_png(payload)
        if payload[:2] == JPEG_SOI:
            return decode_jpeg(payload)
    except (struct.error, zlib.error) as exc:
        raise NotImplementedError(f"corrupt image payload: {exc!r}") from exc
    raise NotImplementedError(
        f"image magic {payload[:8]!r}: only grayscale PNG and baseline JPEG decode"
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
    payload: bytes, target_long_side: int = 256, quality: int = 85
) -> tuple[bytes, int, int]:
    """x187's thumbnail chain for a grayscale JPEG: decode, EXIF-orient
    upright (BEFORE the downscale, so a rotated portrait is not scaled
    against the wrong long side), aspect-preserving nearest-neighbour
    downscale (never upscales), baseline JPEG re-encode. Returns
    (jpeg_bytes, width, height) — the dimensions are known from the
    resize itself, so callers never pay a decode of the thumb just to
    learn its geometry."""
    width, height, raster = decode_raster(payload)
    width, height, raster = apply_exif_orientation(
        width, height, 1, raster, parse_exif(payload)["orientation"]
    )
    new_w, new_h = resize_dims(width, height, target_long_side)
    if (new_w, new_h) != (width, height):
        raster = bytes(
            raster[(y * height // new_h) * width + x * width // new_w]
            for y in range(new_h)
            for x in range(new_w)
        )
        width, height = new_w, new_h
    return encode_jpeg(width, height, raster, quality=quality), width, height


def _pcm16_rms(frames: bytes) -> float:
    """RMS of little-endian 16-bit PCM frames. The sum of squares is
    exact int64 arithmetic (no overflow below ~2^33 samples, far past
    any in-memory payload), so the one division is the only rounding."""
    if not frames:
        return 0.0
    a = np.frombuffer(frames, dtype="<i2").astype(np.int64)
    return float((int(np.dot(a, a)) / a.size) ** 0.5)


def decode_audio_real(payload: bytes) -> dict:
    """Decode a 16-bit PCM WAV payload to (channels, sample_rate,
    n_samples, duration_s, rms). Every other container or encoding
    raises ``NotImplementedError``."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("only 16-bit PCM WAV decodes")
    try:
        with wave.open(io.BytesIO(payload)) as w:
            if w.getsampwidth() != 2:
                raise NotImplementedError(
                    f"{8 * w.getsampwidth()}-bit WAV: only 16-bit PCM decodes"
                )
            channels, rate = w.getnchannels(), w.getframerate()
            n = w.getnframes()
            frames = w.readframes(n)
    except (wave.Error, EOFError) as exc:
        raise NotImplementedError(f"not a PCM WAV payload: {exc}") from exc
    return {
        "channels": channels,
        "sample_rate": rate,
        "n_samples": n,
        "duration_s": n / rate if rate else 0.0,
        "rms": _pcm16_rms(frames),
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


def fake_sample_frames(doc_id: int, payload: bytes) -> list[dict]:
    """Deterministic stand-in: the payload holds one 'frame' per
    ``FRAME_SIZE`` bytes; emit every ``FRAME_STRIDE``-th frame with its
    byte offset and an md5 'thumbnail hash' of (doc_id, frame_no)."""
    return [
        {
            "frame_no": frame_no,
            "frame_offset": frame_no * FRAME_SIZE,
            "frame_hash": hashlib.md5(f"{doc_id}|{frame_no}".encode()).hexdigest(),
        }
        for frame_no in range(0, len(payload) // FRAME_SIZE, FRAME_STRIDE)
    ]


def probe_image_dims(payload: bytes) -> tuple[int, int]:
    """(width, height) of a baseline JPEG from its SOF0 header, without
    a pixel decode: the header carries the dims in microseconds, where a
    pure-Python IDCT of a large image costs minutes. A payload without
    SOI or SOF0 raises ``NotImplementedError``."""
    if payload[:2] != JPEG_SOI:
        raise NotImplementedError("only JPEG dimensions probe")
    pos = 2
    try:
        while pos + 4 <= len(payload) and payload[pos] == 0xFF:
            if payload[pos + 1] == 0xC0:
                h, w = struct.unpack_from(">HH", payload, pos + 5)
                return w, h
            pos += 2 + struct.unpack_from(">H", payload, pos + 2)[0]
    except struct.error as exc:
        raise NotImplementedError(f"truncated JPEG header: {exc}") from exc
    raise NotImplementedError("JPEG stream without an SOF0 marker")


# ---------------------------------------------------------------------------
# JPEG EXIF: orientation (whether the decode needs a rotate) and capture
# timestamp. APP1 "Exif\0\0" holds a little TIFF: IFD0 carries Orientation
# (0x0112) and the Exif sub-IFD pointer (0x8769); the sub-IFD carries
# DateTimeOriginal (0x9003).
# ---------------------------------------------------------------------------
def encode_exif_app1(orientation: int = 1, datetime_original: str | None = None) -> bytes:
    """A complete JPEG APP1/Exif segment (marker included) carrying the
    given tags — splice it right after SOI to EXIF-tag a JPEG. Writer
    half of :func:`parse_exif`, used by x153's and x187's per-doc
    payloads. The TIFF block is little-endian; value offsets are relative
    to its header, and IFD0 starts at 8."""
    ifd0 = [struct.pack("<HHIHH", 0x0112, 3, 1, orientation, 0)]
    sub_ifd = b""
    if datetime_original is not None:
        sub_off = 8 + 2 + 12 * 2 + 4  # right after IFD0's two entries
        ifd0.append(struct.pack("<HHII", 0x8769, 4, 1, sub_off))
        # one entry, no next IFD, then the 20-byte NUL-padded value
        sub_ifd = (
            struct.pack("<HHHIII", 1, 0x9003, 2, 20, sub_off + 18, 0)
            + datetime_original.encode("ascii")[:19].ljust(20, b"\x00")
        )
    tiff = (
        b"II*\x00"
        + struct.pack("<IH", 8, len(ifd0))
        + b"".join(ifd0)
        + struct.pack("<I", 0)
        + sub_ifd
    )
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def parse_exif(payload: bytes) -> dict:
    """Orientation and DateTimeOriginal from the APP1 Exif segment that
    :func:`encode_exif_app1` writes right after SOI; a field whose tag is
    absent is None, and so are both for a JPEG without that segment.
    A non-JPEG payload, a big-endian TIFF block or a corrupt segment
    raises ``NotImplementedError``."""
    out = {"orientation": None, "datetime_original": None}
    if payload[:2] != JPEG_SOI:
        raise NotImplementedError("EXIF is read from JPEG payloads only")
    if payload[2:4] != b"\xff\xe1" or payload[6:12] != b"Exif\x00\x00":
        return out
    tiff = payload[12 : 4 + int.from_bytes(payload[4:6], "big")]
    if tiff[:4] != b"II*\x00":
        raise NotImplementedError("only a little-endian EXIF TIFF block parses")

    def entries(ifd_off: int) -> dict[int, tuple[int, int]]:
        """tag -> (count, value field) of one IFD."""
        (n,) = struct.unpack_from("<H", tiff, ifd_off)
        return {
            tag: (count, value)
            for tag, _type, count, value in (
                struct.unpack_from("<HHII", tiff, ifd_off + 2 + 12 * i) for i in range(n)
            )
        }

    try:
        ifd0 = entries(struct.unpack_from("<I", tiff, 4)[0])
        if 0x0112 in ifd0:  # a SHORT sits in the value field's low bytes
            out["orientation"] = ifd0[0x0112][1] & 0xFFFF
        sub = entries(ifd0[0x8769][1]) if 0x8769 in ifd0 else {}
        if 0x9003 in sub:
            count, off = sub[0x9003]
            out["datetime_original"] = tiff[off : off + count].split(b"\x00")[0].decode("ascii")
    except (struct.error, UnicodeDecodeError) as exc:
        raise NotImplementedError(f"corrupt EXIF segment: {exc!r}") from exc
    return out


def encode_png_gray(width: int, height: int, raster: bytes) -> bytes:
    """Encode an 8-bit grayscale raster as a real PNG (filter 0 rows,
    one zlib IDAT) — the lossless counterpart of jpeg.encode_jpeg:
    ``decode_raster(encode_png_gray(w, h, r)) == (w, h, r)`` exactly,
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
    arithmetic: decode via :func:`decode_raster`, sample a 9x8 grid
    nearest-floor (``sx = gx*w//9``, ``sy = gy*h//8``), and set bit
    ``gy*8+gx`` when the right neighbor is strictly brighter.
    Unsupported payloads raise ``NotImplementedError`` from the decode."""
    width, height, raster = decode_raster(payload)
    if width < 9 or height < 8:
        raise NotImplementedError(f"dhash64 needs >=9x8 pixels, got {width}x{height}")
    grid = [
        [raster[(gy * height // 8) * width + gx * width // 9] for gx in range(9)]
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
