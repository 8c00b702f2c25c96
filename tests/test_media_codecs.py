"""Real media codecs (X6): actual pixel and sample bytes through the
pure-stdlib decoders of ``ua2sql_spark.functions.media``.

Payloads are synthesized in-test (PPM/PGM/BMP images, PCM WAV audio) so
every expected value is known in closed form; no image/audio libraries
involved on either side.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import pytest

from ua2sql_spark.functions.media import decode_audio_real, decode_raster, resize_dims
from tests.helpers import _lzw_encode, encode_gif


def decoded(payload: bytes) -> dict:
    """Width, height and the mean of all channel samples in [0, 1]."""
    width, height, _, raster = decode_raster(payload)
    return {"width": width, "height": height, "mean_pixel": sum(raster) / len(raster) / 255.0}


def ppm(width: int, height: int, rgb=(10, 20, 30), comment=False) -> bytes:
    head = b"P6\n" + (b"# synthetic\n" if comment else b"")
    return (
        head
        + f"{width} {height}\n255\n".encode()
        + bytes(rgb) * (width * height)
    )


def pgm(width: int, height: int, value: int) -> bytes:
    return f"P5\n{width} {height}\n255\n".encode() + bytes([value]) * (
        width * height
    )


def bmp24(width: int, height: int, bgr=(30, 20, 10)) -> bytes:
    stride = (width * 3 + 3) & ~3
    pixel_bytes = (bytes(bgr) * width + b"\x00" * (stride - width * 3)) * height
    header = (
        b"BM"
        + struct.pack("<IHHI", 14 + 40 + len(pixel_bytes), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(pixel_bytes), 2835, 2835, 0, 0)
    )
    return header + pixel_bytes


def wav16(n: int, rate: int = 8000, amp: int = 1000, channels: int = 1) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{n * channels}h", *([amp] * n * channels)))
    return buf.getvalue()


def test_ppm_decode_exact():
    d = decoded(ppm(8, 4, rgb=(10, 20, 30), comment=True))
    assert (d["width"], d["height"]) == (8, 4)
    assert d["mean_pixel"] == pytest.approx(20 / 255.0)  # mean(10,20,30)=20


def test_pgm_decode_exact():
    d = decoded(pgm(5, 3, value=51))
    assert (d["width"], d["height"]) == (5, 3)
    assert d["mean_pixel"] == pytest.approx(0.2)


def test_bmp_decode_strips_row_padding():
    # width 3 → 9 data bytes padded to 12 per row; mean must exclude pads
    d = decoded(bmp24(3, 2, bgr=(30, 20, 10)))
    assert (d["width"], d["height"]) == (3, 2)
    assert d["mean_pixel"] == pytest.approx(20 / 255.0)


def png(width: int, height: int, pixels: list[list[tuple]], filters=None) -> bytes:
    """Minimal PNG encoder (test fixture): 8-bit RGB/RGBA/gray, one
    explicit filter byte per row so every decoder filter path
    (None/Sub/Up/Average/Paeth) gets exercised. ``pixels`` is rows of
    per-pixel channel tuples."""
    channels = len(pixels[0][0])
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    raster = [bytes(c for px in row for c in px) for row in pixels]
    filters = filters or [0] * height
    stride = width * channels
    raw = bytearray()
    prev = bytes(stride)
    for row, ftype in zip(raster, filters):
        raw.append(ftype)
        for i in range(stride):
            a = row[i - channels] if i >= channels else 0
            b, c = prev[i], (prev[i - channels] if i >= channels else 0)
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            raw.append((row[i] - pred) & 0xFF)
        prev = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filter_types():
    # 3x5 RGB with a different filter on each row; gradient pixels so
    # Sub/Up/Average/Paeth predictions are all non-trivial.
    pixels = [
        [((x * 40 + y * 10) % 256, (x * 7) % 256, (y * 90) % 256) for x in range(3)]
        for y in range(5)
    ]
    payload = png(3, 5, pixels, filters=[0, 1, 2, 3, 4])
    d = decoded(payload)
    flat = [c for row in pixels for px in row for c in px]
    assert (d["width"], d["height"]) == (3, 5)
    assert d["mean_pixel"] == pytest.approx(sum(flat) / len(flat) / 255.0)


def test_png_decode_rgba_and_gray():
    rgba = [[(10, 20, 30, 255), (40, 50, 60, 128)]]
    d = decoded(png(2, 1, rgba, filters=[4]))
    flat = [c for px in rgba[0] for c in px]
    assert (d["width"], d["height"]) == (2, 1)
    assert d["mean_pixel"] == pytest.approx(sum(flat) / 8 / 255.0)
    gray = [[(51,)], [(153,)]]
    d = decoded(png(1, 2, gray, filters=[2, 2]))
    assert (d["width"], d["height"]) == (1, 2)
    assert d["mean_pixel"] == pytest.approx(102 / 255.0)


def test_png_unsupported_variants_raise():
    # sub-byte depth (4-bit indexed): genuinely unsupported
    ihdr = struct.pack(">IIBBBBB", 1, 1, 4, 3, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    with pytest.raises(NotImplementedError):
        decoded(bad)
    with pytest.raises(NotImplementedError):  # truncated stream
        decoded(b"\x89PNG\r\n\x1a\n....")


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def test_png_palette_decode():
    """Color type 3: indices expand through PLTE to RGB."""
    pal = b"".join(bytes([i * 50, i * 30, i * 10]) for i in range(4))
    idx_rows = [bytes([0, 1, 2]), bytes([3, 2, 1])]
    raw = b"".join(b"\x00" + r for r in idx_rows)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + _png_chunk(b"PLTE", pal)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    from ua2sql_spark.functions.media import decode_raster

    w, h, c, out = decode_raster(payload)
    assert (w, h, c) == (3, 2, 3)
    expect = b"".join(pal[3 * i : 3 * i + 3] for i in (0, 1, 2, 3, 2, 1))
    assert out == expect


def test_png_adam7_interlaced_decode():
    """Adam7: seven independently filtered sub-images scatter back to
    the full raster; checked against a known 9x9 gray gradient."""
    from ua2sql_spark.functions.media import _ADAM7, decode_raster

    w = h = 9
    full = [[(x * 13 + y * 29) % 256 for x in range(w)] for y in range(h)]
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        for ry in range(ph):
            raw.append(0)  # filter None
            for rx in range(pw):
                raw.append(full[y0 + ry * dy][x0 + rx * dx])
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1))
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    W, H, C, out = decode_raster(payload)
    assert (W, H, C) == (w, h, 1)
    assert out == bytes(v for row in full for v in row)


def test_unsupported_image_formats_raise():
    with pytest.raises(NotImplementedError):  # WebP: no codec in container
        decoded(b"RIFF\x00\x00\x00\x00WEBPVP8 ")
    with pytest.raises(NotImplementedError):  # truncated JPEG stream
        decoded(b"\xff\xd8\xff\xe0 not a full jpeg")


# ---------------------------------------------------------------------------
# Baseline JPEG: pure-stdlib encoder/decoder roundtrip (functions/jpeg.py).
# The encoder uses simple uniform-length Huffman tables; real-world DHTs
# (Annex K multi-length) exercise the same canonical decode path and were
# verified against actual camera/encoder output during development.
# ---------------------------------------------------------------------------
def gradient_rgb(w: int, h: int) -> bytes:
    return bytes(
        c
        for y in range(h)
        for x in range(w)
        for c in ((x * 9) % 256, (y * 11) % 256, (x * 3 + y * 5) % 256)
    )


@pytest.mark.parametrize(
    "quality,subsample,tol_max,tol_mean",
    [(100, False, 4, 1.0), (92, False, 10, 1.5), (92, True, 16, 3.0)],
)
def test_jpeg_roundtrip_rgb(quality, subsample, tol_max, tol_mean):
    from ua2sql_spark.functions.jpeg import decode_jpeg, encode_jpeg

    w, h = 23, 17  # deliberately not multiples of 8/16: edge-block padding
    raster = gradient_rgb(w, h)
    enc = encode_jpeg(w, h, 3, raster, quality=quality, subsample=subsample)
    W, H, C, out = decode_jpeg(enc)
    assert (W, H, C) == (w, h, 3)
    diffs = [abs(a - b) for a, b in zip(out, raster)]
    assert max(diffs) <= tol_max
    assert sum(diffs) / len(diffs) <= tol_mean


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn path: encoder emits byte-aligned restart markers with DC
    predictor resets; the decoder's restart handling (align, consume,
    reset) reproduces the image. Smooth non-wrapping gradient so 4:2:0
    chroma subsampling loss stays small and any RST desync — which
    corrupts whole MCU strips — is unmistakable."""
    from ua2sql_spark.functions.jpeg import decode_jpeg, encode_jpeg

    w, h = 40, 33  # 3x3 MCUs at 4:2:0, 5x5 at 4:4:4
    raster = bytes(
        c
        for y in range(h)
        for x in range(w)
        for c in (60 + x * 2, 40 + y * 3, 90 + x + y)
    )
    for subsample, ri, tol in [(False, 1, 10), (False, 3, 10), (True, 2, 24)]:
        enc = encode_jpeg(
            w, h, 3, raster, quality=95, subsample=subsample, restart_interval=ri
        )
        n_rst = sum(
            1
            for i in range(len(enc) - 1)
            if enc[i] == 0xFF and 0xD0 <= enc[i + 1] <= 0xD7
        )
        assert n_rst > 0, "no restart markers emitted"
        W, H, C, out = decode_jpeg(enc)
        assert (W, H, C) == (w, h, 3)
        diffs = [abs(a - b) for a, b in zip(out, raster)]
        assert max(diffs) <= tol, (subsample, ri, max(diffs))


def test_jpeg_roundtrip_grayscale():
    from ua2sql_spark.functions.jpeg import decode_jpeg, encode_jpeg

    g = bytes((x * 7 + y * 13) % 256 for y in range(12) for x in range(9))
    W, H, C, out = decode_jpeg(encode_jpeg(9, 12, 1, g, quality=95))
    assert (W, H, C) == (9, 12, 1)
    assert max(abs(a - b) for a, b in zip(out, g)) <= 4


def test_jpeg_progressive_raises():
    from ua2sql_spark.functions.jpeg import decode_jpeg

    # minimal stream whose first frame marker is SOF2 (progressive)
    sof2 = b"\xff\xd8" + b"\xff\xc2" + struct.pack(">H", 11) + struct.pack(
        ">BHHB", 8, 1, 1, 1
    ) + b"\x01\x11\x00"
    with pytest.raises(NotImplementedError):
        decode_jpeg(sof2)


# ---------------------------------------------------------------------------
# GIF: pure-stdlib LZW codec roundtrip (functions/gif.py). GIF is
# lossless, so roundtrips are byte-exact; real-world files (palette +
# deferred clears + Annex-style encoders) were verified during
# development against idlelib's icon set.
# ---------------------------------------------------------------------------
def test_gif_roundtrip_forces_dictionary_growth_and_reset():
    import random

    from ua2sql_spark.functions.gif import decode_gif

    rng = random.Random(3)
    w, h = 200, 120  # 24k random 8-bit pixels: grows past 12 bits → reset
    palette = [bytes([i, (i * 3) % 256, (i * 7) % 256]) for i in range(256)]
    idx = bytes(rng.randrange(256) for _ in range(w * h))
    W, H, C, rgb = decode_gif(encode_gif(w, h, palette, idx))
    assert (W, H, C) == (w, h, 3)
    assert rgb == b"".join(palette[i] for i in idx)


def test_gif_roundtrip_repetitive_deep_chains():
    from ua2sql_spark.functions.gif import decode_gif

    w, h = 64, 48
    pal = [b"\x00\x00\x00", b"\xff\x00\x00", b"\x00\xff\x00", b"\x00\x00\xff"]
    idx = bytes((x // 7 + y // 5) % 4 for y in range(h) for x in range(w))
    _, _, _, rgb = decode_gif(encode_gif(w, h, pal, idx))
    assert rgb == b"".join(pal[i] for i in idx)


def test_gif_interlaced_rows_reorder():
    """Hand-pack an interlaced frame (flag 0x40, rows stored in the
    4-pass order) and check the decoder un-interlaces it."""
    from ua2sql_spark.functions.gif import decode_gif

    w, h = 4, 10
    idx = bytes((y % 4) for y in range(h) for _ in range(w))  # row y = color y%4
    order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    stored = b"".join(idx[y * w : (y + 1) * w] for y in order)
    pal = [b"\x01\x01\x01", b"\x02\x02\x02", b"\x03\x03\x03", b"\x04\x04\x04"]
    table = b"".join(pal)
    gif = (
        b"GIF89a" + struct.pack("<HHBBB", w, h, 0x81, 0, 0) + table
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40) + bytes([2])
    )
    data = _lzw_encode(2, stored)
    gif += bytes([len(data)]) + data + b"\x00\x3b"
    W, H, _, rgb = decode_gif(gif)
    assert (W, H) == (w, h)
    assert rgb == b"".join(pal[i] for i in idx)


def test_gif_through_decode_raster():
    d = decoded(encode_gif(3, 2, [bytes([60, 120, 180])], bytes(6)))
    assert (d["width"], d["height"]) == (3, 2)
    assert d["mean_pixel"] == pytest.approx(120 / 255.0)


def test_jpeg_through_decode_raster():
    from ua2sql_spark.functions.jpeg import encode_jpeg

    w, h = 16, 8
    raster = bytes([90, 150, 210] * (w * h))  # constant color
    d = decoded(encode_jpeg(w, h, 3, raster, quality=100))
    assert (d["width"], d["height"]) == (w, h)
    assert d["mean_pixel"] == pytest.approx(150 / 255.0, abs=0.01)


def test_wav_decode_exact():
    d = decode_audio_real(wav16(800, rate=8000, amp=1000, channels=2))
    assert d["channels"] == 2 and d["sample_rate"] == 8000
    assert d["n_samples"] == 800
    assert d["duration_s"] == pytest.approx(0.1)
    assert d["rms"] == pytest.approx(1000.0)  # constant amplitude


def test_non_wav_raises():
    with pytest.raises(NotImplementedError):
        decode_audio_real(b"ID3\x03not audio at all")


def tiff(width: int, height: int, samples: bytes, spp: int = 3, big_endian=False,
         photometric: int | None = None, strips: int = 1) -> bytes:
    """Minimal uncompressed TIFF writer (test fixture): 8-bit chunky,
    gray/RGB, either byte order, split into ``strips`` strips."""
    e = ">" if big_endian else "<"
    rows_per = -(-height // strips)
    strip_data, offs, cnts = [], [], []
    row_bytes = width * spp
    for s in range(strips):
        d = samples[s * rows_per * row_bytes : (s + 1) * rows_per * row_bytes]
        strip_data.append(d)
    pm = photometric if photometric is not None else (2 if spp == 3 else 1)
    entries = []  # (tag, type, count, value-or-values)
    header = struct.pack(e + "2sHI", b"MM" if big_endian else b"II", 42, 8)
    ntags = 9
    data_start = 8 + 2 + ntags * 12 + 4
    bits_off = data_start
    extra = b""
    if spp > 2:  # BitsPerSample won't fit inline
        extra += struct.pack(e + f"{spp}H", *([8] * spp))
    strips_off = data_start + len(extra)
    pos = strips_off + (8 * strips if strips > 1 else 0)
    for d in strip_data:
        offs.append(pos)
        cnts.append(len(d))
        pos += len(d)
    if strips > 1:
        extra += struct.pack(e + f"{strips}I", *offs)
        extra += struct.pack(e + f"{strips}I", *cnts)

    def entry(tag, ttype, count, value):
        return struct.pack(e + "HHI", tag, ttype, count) + value

    def inline_long(v):
        return struct.pack(e + "I", v)

    def inline_short(v):
        # SHORT values pack into the first 2 of the 4 value bytes
        return struct.pack(e + "HH", v, 0)

    entries.append(entry(256, 4, 1, inline_long(width)))
    entries.append(entry(257, 4, 1, inline_long(height)))
    if spp > 2:
        entries.append(entry(258, 3, spp, inline_long(bits_off)))
    else:
        entries.append(entry(258, 3, 1, inline_short(8)))
    entries.append(entry(259, 3, 1, inline_short(1)))  # uncompressed
    entries.append(entry(262, 3, 1, inline_short(pm)))
    if strips > 1:
        entries.append(entry(273, 4, strips, inline_long(strips_off)))
    else:
        entries.append(entry(273, 4, 1, inline_long(offs[0])))
    entries.append(entry(277, 3, 1, inline_short(spp)))
    entries.append(entry(278, 4, 1, inline_long(rows_per)))
    if strips > 1:
        entries.append(entry(279, 4, strips, inline_long(strips_off + 4 * strips)))
    else:
        entries.append(entry(279, 4, 1, inline_long(cnts[0])))
    ifd = struct.pack(e + "H", len(entries)) + b"".join(entries) + struct.pack(e + "I", 0)
    return header + ifd + extra + b"".join(strip_data)


def test_tiff_decode_both_endians_and_strips():
    from ua2sql_spark.functions.media import decode_raster

    w, h = 7, 6
    rgb = bytes((x * 30 + y * 7 + c) % 256 for y in range(h) for x in range(w) for c in range(3))
    for be in (False, True):
        for strips in (1, 3):
            W, H, C, out = decode_raster(tiff(w, h, rgb, spp=3, big_endian=be, strips=strips))
            assert (W, H, C) == (w, h, 3), (be, strips)
            assert out == rgb, (be, strips)
    gray = bytes((x * 11 + y * 5) % 256 for y in range(h) for x in range(w))
    W, H, C, out = decode_raster(tiff(w, h, gray, spp=1))
    assert (W, H, C, out) == (w, h, 1, gray)
    # WhiteIsZero inverts
    W, H, C, out = decode_raster(tiff(w, h, gray, spp=1, photometric=0))
    assert out == bytes(255 - s for s in gray)


def test_tiff_compressed_raises():
    from ua2sql_spark.functions.media import decode_raster

    payload = bytearray(tiff(2, 2, bytes(12)))
    # flip the Compression entry value (tag 259) to 5 (LZW)
    i = payload.find(struct.pack("<HHI", 259, 3, 1))
    payload[i + 8] = 5
    with pytest.raises(NotImplementedError):
        decode_raster(bytes(payload))


def test_thumbnail_chain_all_formats():
    """decode → downscale → JPEG re-encode for every supported input
    format; output decodes back with the expected dims and brightness."""
    from ua2sql_spark.functions.jpeg import encode_jpeg
    from ua2sql_spark.functions.media import thumbnail_real

    flat = bytes([90, 150, 210])
    sources = {
        "ppm": ppm(64, 32, rgb=(90, 150, 210)),
        "bmp": bmp24(48, 64, bgr=(210, 150, 90)),
        "png": png(40, 20, [[(90, 150, 210)] * 40] * 20),
        "jpeg": encode_jpeg(32, 48, 3, flat * (32 * 48), quality=95),
        "gif": encode_gif(50, 25, [flat], bytes(50 * 25)),
    }
    for name, payload in sources.items():
        thumb, tw, th = thumbnail_real(payload, target_long_side=16, quality=90)
        d = decoded(thumb)
        src = decoded(payload)
        assert (d["width"], d["height"]) == (tw, th), name
        assert max(d["width"], d["height"]) == 16, name
        assert (d["width"], d["height"]) == resize_dims(
            src["width"], src["height"], 16
        ), name
        assert d["mean_pixel"] == pytest.approx(150 / 255.0, abs=0.03), name


# ---------------------------------------------------------------------------
# Property-based codec roundtrips (hypothesis): GIF must be byte-exact
# for ANY palette image (LZW dictionary growth, KwKwK repetitions,
# single-pixel edge); JPEG on flat 8x8-aligned blocks is DC-only, so
# roundtrip error is bounded by quantization rounding alone.
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@given(
    w=st.integers(1, 40),
    h=st.integers(1, 30),
    ncolors=st.integers(1, 17),
    data=st.data(),
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_gif_roundtrip_property(w, h, ncolors, data):
    from ua2sql_spark.functions.gif import decode_gif

    palette = [
        bytes([(i * 37) % 256, (i * 101) % 256, (i * 11) % 256])
        for i in range(ncolors)
    ]
    idx = bytes(
        data.draw(st.integers(0, ncolors - 1), label=f"px{i}")
        for i in range(w * h)
    )
    W, H, C, rgb = decode_gif(encode_gif(w, h, palette, idx))
    assert (W, H, C) == (w, h, 3)
    assert rgb == b"".join(palette[i] for i in idx)


@given(
    bw=st.integers(1, 4),
    bh=st.integers(1, 4),
    data=st.data(),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_jpeg_flat_blocks_roundtrip_property(bw, bh, data):
    from ua2sql_spark.functions.jpeg import decode_jpeg, encode_jpeg

    w, h = bw * 8, bh * 8
    blocks = [
        [
            tuple(data.draw(st.integers(0, 255), label=f"c{by}_{bx}_{k}")
                  for k in range(3))
            for bx in range(bw)
        ]
        for by in range(bh)
    ]
    raster = bytes(
        c for y in range(h) for x in range(w) for c in blocks[y // 8][x // 8]
    )
    W, H, C, out = decode_jpeg(encode_jpeg(w, h, 3, raster, quality=100))
    assert (W, H, C) == (w, h, 3)
    # flat blocks -> DC-only spectra; error = quant rounding + color
    # transform rounding, a few LSBs
    assert max(abs(a - b) for a, b in zip(out, raster)) <= 6


# ---------------------------------------------------------------------------
# Audio containers beyond WAV + metadata probing for codec-bound
# formats (MP3 frame walk, MP4 box walk).
# ---------------------------------------------------------------------------
def aiff(channels: int, rate: int, samples: list[int]) -> bytes:
    """Minimal AIFF writer: 16-bit PCM, 80-bit extended-float rate."""
    n_frames = len(samples) // channels
    # 80-bit extended float for integer rates < 2^32
    exp = 16383 + 63
    mant = rate
    while mant < (1 << 63):
        mant <<= 1
        exp -= 1
    ext = struct.pack(">HQ", exp, mant)
    comm = struct.pack(">hIh", channels, n_frames, 16) + ext
    ssnd = struct.pack(">II", 0, 0) + struct.pack(f">{len(samples)}h", *samples)
    body = (
        b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    )
    return b"FORM" + struct.pack(">I", len(body)) + body


def au(encoding: int, rate: int, channels: int, data: bytes) -> bytes:
    return struct.pack(">4s5I", b".snd", 24, len(data), encoding, rate, channels) + data


def test_aiff_decode_exact():
    samples = [1000, -1000] * 400  # stereo constant magnitude
    d = decode_audio_real(aiff(2, 44100, samples))
    assert d["channels"] == 2 and d["sample_rate"] == 44100
    assert d["n_samples"] == 400
    assert d["rms"] == pytest.approx(1000.0)


def test_au_linear16_decode_exact():
    samples = [500] * 800
    payload = au(3, 8000, 1, struct.pack(">800h", *samples))
    d = decode_audio_real(payload)
    assert (d["channels"], d["sample_rate"], d["n_samples"]) == (1, 8000, 800)
    assert d["duration_s"] == pytest.approx(0.1)
    assert d["rms"] == pytest.approx(500.0)


def test_au_mulaw_anchor_values():
    """G.711 mu-law anchors: 0xFF/0x7F are the zero codes, 0x00 is the
    negative rail (-32124), 0x80 the positive rail (+32124)."""
    d0 = decode_audio_real(au(1, 8000, 1, bytes([0xFF, 0x7F])))
    assert d0["rms"] == pytest.approx(0.0)
    rail = decode_audio_real(au(1, 8000, 1, bytes([0x00, 0x80])))
    assert rail["rms"] == pytest.approx(32124.0)


def mp3_frames(n: int) -> bytes:
    # MPEG1 Layer III, 128 kbps, 44.1 kHz, no padding → 417-byte frames
    frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + bytes(413)
    return frame * n


def test_probe_mp3_duration_and_id3_skip():
    from ua2sql_spark.functions.media import probe_mp3

    d = probe_mp3(mp3_frames(10))
    assert d["sample_rate"] == 44100 and d["bitrate_kbps"] == 128
    assert d["n_frames"] == 10
    assert d["duration_s"] == pytest.approx(10 * 1152 / 44100)

    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 20]) + bytes(20)
    d2 = probe_mp3(id3 + mp3_frames(3))
    assert d2["n_frames"] == 3


def test_probe_mp4_boxes():
    from ua2sql_spark.functions.media import probe_mp4

    mvhd = b"\x00\x00\x00\x00" + bytes(8) + struct.pack(">II", 1000, 90_000)
    mvhd_box = struct.pack(">I", 8 + len(mvhd)) + b"mvhd" + mvhd
    trak_box = struct.pack(">I", 8) + b"trak"
    moov_body = mvhd_box + trak_box + trak_box
    moov = struct.pack(">I", 8 + len(moov_body)) + b"moov" + moov_body
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + bytes(4)
    d = probe_mp4(ftyp + moov)
    assert d["brand"] == "isom"
    assert d["duration_s"] == pytest.approx(90.0)
    assert d["n_tracks"] == 2


def test_probe_media_unified():
    """The triage probe: mixed payloads, typed metadata out, unknowns
    survive as kind='unknown'."""
    from ua2sql_spark.functions.media import probe_media_metadata

    got = {
        doc_id: probe_media_metadata(payload)
        for doc_id, payload in [
            (1, ppm(8, 4)),
            (2, wav16(800, rate=8000)),
            (3, aiff(2, 44100, [100, -100] * 50)),
            (4, mp3_frames(5)),
            (5, b"garbage that matches nothing"),
        ]
    }
    assert got[1]["kind"] == "image" and (got[1]["width"], got[1]["height"]) == (8, 4)
    assert got[2]["kind"] == "audio" and got[2]["duration_s"] == pytest.approx(0.1)
    assert got[3]["kind"] == "audio" and got[3]["sample_rate"] == 44100
    assert got[4]["kind"] == "audio" and got[4]["duration_s"] == pytest.approx(
        5 * 1152 / 44100
    )
    assert got[5]["kind"] == "unknown" and got[5]["width"] is None


def test_png_16bit_decode_high_byte():
    """16-bit PNG: filters run at byte level with left-distance =
    bytes-per-pixel; samples downcast to their high byte. Sub filter on
    a 16-bit gray gradient exercises the 2-byte left distance."""
    from ua2sql_spark.functions.media import decode_raster

    w, h = 4, 3
    vals = [[(x * 1000 + y * 7000) & 0xFFFF for x in range(w)] for y in range(h)]
    raw = bytearray()
    for y in range(h):
        raw.append(1)  # Sub
        rowbytes = b"".join(struct.pack(">H", v) for v in vals[y])
        for i, b in enumerate(rowbytes):
            left = rowbytes[i - 2] if i >= 2 else 0
            raw.append((b - left) & 0xFF)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    W, H, C, out = decode_raster(payload)
    assert (W, H, C) == (w, h, 1)
    assert out == bytes(v >> 8 for row in vals for v in row)


def test_probe_webp_all_variants():
    """WebP dims from VP8 (lossy), VP8L (lossless), VP8X (extended)
    headers — metadata probing, no pixel decode."""
    from ua2sql_spark.functions.media import probe_media_metadata, probe_webp

    def riff(fourcc: bytes, body: bytes) -> bytes:
        chunk = fourcc + struct.pack("<I", len(body)) + body
        return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    lossy = riff(b"VP8 ", bytes(3) + b"\x9d\x01\x2a" + struct.pack("<HH", 320, 240))
    assert probe_webp(lossy) == {"width": 320, "height": 240, "variant": "lossy"}

    bits = (99 - 1) | ((77 - 1) << 14)
    lossless = riff(b"VP8L", bytes([0x2F]) + struct.pack("<I", bits))
    assert probe_webp(lossless) == {"width": 99, "height": 77, "variant": "lossless"}

    ext = riff(
        b"VP8X",
        bytes(4) + (639).to_bytes(3, "little") + (479).to_bytes(3, "little"),
    )
    assert probe_webp(ext) == {"width": 640, "height": 480, "variant": "extended"}

    d = probe_media_metadata(lossy)
    assert d["kind"] == "image" and (d["width"], d["height"]) == (320, 240)


def test_probe_image_dims_header_only():
    """Triage must never pay a pixel decode: dims come from headers for
    every format, INCLUDING payloads whose full decode would fail —
    a valid-IHDR PNG with garbage IDAT and a progressive JPEG both
    probe fine while decode_raster raises on them."""
    from ua2sql_spark.functions.jpeg import encode_jpeg
    from ua2sql_spark.functions.media import (
        decode_raster,
        probe_image_dims,
        probe_media_metadata,
    )

    flat = bytes([90, 150, 210])
    for name, payload, wh in [
        ("ppm", ppm(64, 32), (64, 32)),
        ("bmp", bmp24(48, 64), (48, 64)),
        ("png", png(40, 20, [[(1, 2, 3)] * 40] * 20), (40, 20)),
        ("jpeg", encode_jpeg(32, 48, 3, flat * (32 * 48)), (32, 48)),
        ("gif", encode_gif(50, 25, [flat], bytes(50 * 25)), (50, 25)),
    ]:
        assert probe_image_dims(payload) == wh, name
        assert decode_raster(payload)[:2] == wh, name  # header agrees with decode

    # valid IHDR, corrupt IDAT: decode raises, probe still answers
    broken_png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 123, 45, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", b"not-deflate-data")
        + _png_chunk(b"IEND", b"")
    )
    assert probe_image_dims(broken_png) == (123, 45)
    with pytest.raises(NotImplementedError):
        decode_raster(broken_png)
    assert probe_media_metadata(broken_png)["width"] == 123

    # progressive JPEG (SOF2): decode is unsupported, dims still probe
    sof2 = (
        b"\xff\xd8"
        + b"\xff\xc2" + struct.pack(">H", 11) + bytes([8]) +
        struct.pack(">HH", 77, 99) + bytes([1, 1, 0x11, 0])
        + b"\xff\xd9"
    )
    assert probe_image_dims(sof2) == (99, 77)
    with pytest.raises(NotImplementedError):
        decode_raster(sof2)


def test_aifc_sowt_little_endian_decode():
    """AIFF-C 'sowt' is byte-swapped (little-endian) PCM — the samples
    must decode to the same values as their big-endian AIFF twin, not
    byte-swapped garbage."""
    samples = [1000, -1000] * 100
    # reuse the 80-bit rate bytes: COMM body starts at offset 20, the
    # extended float sits after channels(2)+frames(4)+bits(2)
    ext = aiff(1, 22050, samples)[28:38]
    comm = struct.pack(">hIh", 1, len(samples), 16) + ext + b"sowt" + b"\x00"
    ssnd = struct.pack(">II", 0, 0) + struct.pack(f"<{len(samples)}h", *samples)
    body = (
        b"AIFC"
        + b"COMM" + struct.pack(">I", len(comm)) + comm + b"\x00"  # pad odd
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    )
    payload = b"FORM" + struct.pack(">I", len(body)) + body
    d = decode_audio_real(payload)
    assert (d["channels"], d["sample_rate"], d["n_samples"]) == (1, 22050, 200)
    assert d["rms"] == pytest.approx(1000.0)


# ---------------------------------------------------------------------------
# JPEG EXIF: orientation + capture timestamp (VERDICT r5 #8).
# ---------------------------------------------------------------------------
def _exif_jpeg(orientation=1, dt=None, dto=None, w=8, h=8):
    from ua2sql_spark.functions.jpeg import encode_jpeg
    from ua2sql_spark.functions.media import encode_exif_app1

    base = encode_jpeg(w, h, 1, bytes(range(w * h // 256 + 1)) * 256, quality=90)
    app1 = encode_exif_app1(orientation, dt, dto)
    return base[:2] + app1 + base[2:]


def test_exif_roundtrip_all_tags():
    from ua2sql_spark.functions.media import parse_exif

    p = _exif_jpeg(6, "2024:03:01 10:00:00", "2024:02:29 09:30:00")
    ex = parse_exif(p)
    assert ex == {
        "orientation": 6,
        "datetime": "2024:03:01 10:00:00",
        "datetime_original": "2024:02:29 09:30:00",
    }
    # orientation-only segment: other fields None
    ex2 = parse_exif(_exif_jpeg(3))
    assert ex2["orientation"] == 3
    assert ex2["datetime"] is None and ex2["datetime_original"] is None


def test_exif_probe_integration_and_dims_unaffected():
    from ua2sql_spark.functions.media import probe_image_dims, probe_media_metadata

    p = _exif_jpeg(8, dto="2021:12:31 23:59:59", w=16, h=8)
    assert probe_image_dims(p) == (16, 8)  # APP1 walk doesn't break SOF
    d = probe_media_metadata(p)
    assert d["kind"] == "image" and (d["width"], d["height"]) == (16, 8)
    assert d["exif_orientation"] == 8
    assert d["exif_datetime"] == "2021:12:31 23:59:59"  # original wins
    # plain JPEG: EXIF fields NULL, probe still fine
    from ua2sql_spark.functions.jpeg import encode_jpeg

    plain = probe_media_metadata(encode_jpeg(8, 8, 1, bytes(64), quality=90))
    assert plain["exif_orientation"] is None and plain["exif_datetime"] is None


def test_exif_never_raises_on_corrupt_segments():
    from ua2sql_spark.functions.media import parse_exif

    full = _exif_jpeg(6, "2024:03:01 10:00:00")
    for cut in (4, 8, 14, 20, 30):
        assert isinstance(parse_exif(full[:cut]), dict)
    # APP1 claims EXIF but the TIFF block is garbage
    bogus = b"\xff\xd8\xff\xe1\x00\x10Exif\x00\x00GARBAGE!"
    assert parse_exif(bogus) == {
        "orientation": None,
        "datetime": None,
        "datetime_original": None,
    }
    assert parse_exif(b"not a jpeg")["orientation"] is None


def test_apply_exif_orientation_all_eight():
    """Every EXIF orientation against hand-derived expected rasters on
    an asymmetric 3x2 single-channel image (VERDICT r6 next-round #7).
    Source (rows top-down):  a b c
                             d e f"""
    from ua2sql_spark.functions.media import apply_exif_orientation

    a, b, c, d, e, f = range(10, 16)
    src = bytes([a, b, c, d, e, f])  # 3 wide, 2 high

    expected = {
        1: (3, 2, [a, b, c, d, e, f]),
        2: (3, 2, [c, b, a, f, e, d]),          # flip horizontal
        3: (3, 2, [f, e, d, c, b, a]),          # rotate 180
        4: (3, 2, [d, e, f, a, b, c]),          # flip vertical
        5: (2, 3, [a, d, b, e, c, f]),          # transpose
        6: (2, 3, [d, a, e, b, f, c]),          # rotate 90 CW
        7: (2, 3, [f, c, e, b, d, a]),          # transverse
        8: (2, 3, [c, f, b, e, a, d]),          # rotate 270 CW
    }
    for ori, (w, h, flat) in expected.items():
        got = apply_exif_orientation(3, 2, 1, src, ori)
        assert got == (w, h, bytes(flat)), f"orientation {ori}"
    # identity spellings + 3-channel pixels move as units
    assert apply_exif_orientation(3, 2, 1, src, None) == (3, 2, src)
    rgb = bytes(v for px in [a, b, c, d, e, f] for v in (px, px + 100, px + 200 & 0xFF))
    _, _, rot = apply_exif_orientation(3, 2, 3, rgb, 3)
    assert rot[:3] == bytes([f, (f + 100) & 0xFF, (f + 200) & 0xFF])
    with pytest.raises(ValueError, match="orientation"):
        apply_exif_orientation(3, 2, 1, src, 9)


def test_thumbnail_applies_orientation_before_downscale():
    """A 16x8 landscape stored with orientation 6 is VISUALLY an 8x16
    portrait: the thumbnail must orient first (portrait dims, long side
    = the visual one), not downscale the stored landscape and rotate a
    wrong-aspect thumb later."""
    from ua2sql_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from ua2sql_spark.functions.media import (
        apply_exif_orientation,
        encode_exif_app1,
        thumbnail_real,
    )

    w, h = 16, 8
    raster = bytes(((x * 13 + y * 29) % 256) for y in range(h) for x in range(w))
    base = encode_jpeg(w, h, 1, raster, quality=95)
    tagged = base[:2] + encode_exif_app1(orientation=6) + base[2:]

    thumb, tw, th = thumbnail_real(tagged, target_long_side=8, quality=95)
    assert (tw, th) == (4, 8)  # portrait after orienting, THEN halved

    # pixel parity with the reference chain: decode -> orient -> same
    # nearest-neighbour downscale -> same encoder (bit-identical JPEG)
    dw, dh, dc, draster = decode_jpeg(base)
    ow, oh, oriented = apply_exif_orientation(dw, dh, dc, draster, 6)
    ref = bytearray()
    for y in range(8):
        sy = y * oh // 8
        for x in range(4):
            sx = x * ow // 4
            ref += oriented[sy * ow + sx : sy * ow + sx + 1]
    assert thumb == encode_jpeg(4, 8, 1, bytes(ref), quality=95)

    # orientation off / untagged: stored geometry is respected
    thumb2, tw2, th2 = thumbnail_real(tagged, 8, 95, apply_orientation=False)
    assert (tw2, th2) == (8, 4)
    thumb3, tw3, th3 = thumbnail_real(base, 8, 95)
    assert (tw3, th3) == (8, 4)


# ---------------------------------------------------------------------------
# encode_png_gray + dhash64 (round 11, the x205 substrate)
# ---------------------------------------------------------------------------


def test_png_gray_roundtrip_is_lossless():
    from ua2sql_spark.functions.media import decode_raster, encode_png_gray

    w, h = 27, 16
    raster = bytes((x * 7 + y * 13) % 256 for y in range(h) for x in range(w))
    dw, dh, ch, out = decode_raster(encode_png_gray(w, h, raster))
    assert (dw, dh, ch) == (w, h, 1)
    assert out == raster  # bit-exact: PNG is lossless


def test_dhash64_matches_hand_computation_and_perturbation_bound():
    from ua2sql_spark.functions.media import dhash64, encode_png_gray

    w, h = 27, 16
    base = bytes((x * 31 + y * 57) % 256 for y in range(h) for x in range(w))
    lo0, hi0 = dhash64(encode_png_gray(w, h, base))
    # hand-compute from the definition on the SOURCE raster
    grid = [[base[(gy * h // 8) * w + gx * w // 9] for gx in range(9)] for gy in range(8)]
    lo, hi = 0, 0
    for gy in range(8):
        for gx in range(8):
            if grid[gy][gx + 1] > grid[gy][gx]:
                b = gy * 8 + gx
                if b < 32:
                    lo |= 1 << b
                else:
                    hi |= 1 << (b - 32)
    assert (lo0, hi0) == (lo, hi)
    assert 0 <= lo0 < 2**32 and 0 <= hi0 < 2**32
    # perturbing ONE sampled grid pixel flips at most its two adjacent
    # comparison bits (the x205 within-pair Hamming <= 2 argument)
    pert = bytearray(base)
    pert[6 * w + 12] = (pert[6 * w + 12] + 128) % 256  # grid (4,3)
    lo1, hi1 = dhash64(encode_png_gray(w, h, bytes(pert)))
    d = bin(lo0 ^ lo1).count("1") + bin(hi0 ^ hi1).count("1")
    assert d <= 2


def test_dhash64_rejects_tiny_images():
    import pytest as _pytest

    from ua2sql_spark.functions.media import dhash64, encode_png_gray

    with _pytest.raises(NotImplementedError, match="9x8"):
        dhash64(encode_png_gray(8, 8, bytes(64)))


def test_png_gray_roundtrip_property():
    """Any 8-bit grayscale raster survives encode->decode bit-exactly —
    the losslessness x205's hash contract rests on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ua2sql_spark.functions.media import decode_raster, encode_png_gray

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=40),
        h=st.integers(min_value=1, max_value=40),
        seed=st.integers(min_value=0, max_value=2**31),
    )
    def check(w, h, seed):
        raster = bytes((seed + i * 2654435761) % 256 for i in range(w * h))
        assert decode_raster(encode_png_gray(w, h, raster)) == (w, h, 1, raster)

    check()
