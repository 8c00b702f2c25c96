"""Media codecs (X6): actual pixel and sample bytes through the
pure-stdlib codecs of ``ua2sql_spark.functions.media`` and
``functions/jpeg.py``.

The codecs accept exactly what the engine's own encoders emit
(grayscale PNG, single-component baseline JPEG, 16-bit PCM WAV, the
Orientation and DateTimeOriginal EXIF tags) and raise
``NotImplementedError`` for every other payload. Payloads are
synthesized in-test, so every expected value is known in closed form;
no image/audio libraries are involved on either side.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ua2sql_spark.functions.jpeg import decode_jpeg, encode_jpeg
from ua2sql_spark.functions.media import (
    apply_exif_orientation,
    decode_audio_real,
    decode_raster,
    dhash64,
    encode_exif_app1,
    encode_png_gray,
    parse_exif,
    probe_image_dims,
    thumbnail_real,
)


def wav16(n: int, rate: int = 8000, amp: int = 1000, channels: int = 1) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{n * channels}h", *([amp] * n * channels)))
    return buf.getvalue()


def test_png_unsupported_variants_raise():
    # sub-byte depth (4-bit indexed): genuinely unsupported
    ihdr = struct.pack(">IIBBBBB", 1, 1, 4, 3, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    with pytest.raises(NotImplementedError):
        decode_raster(bad)
    with pytest.raises(NotImplementedError):  # truncated stream
        decode_raster(b"\x89PNG\r\n\x1a\n....")


def _png(ihdr: tuple, raw: bytes, plte: bytes | None = None) -> bytes:
    """A PNG with the given IHDR fields and uncompressed scanline bytes."""

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", *ihdr))
        + (chunk(b"PLTE", plte) if plte else b"")
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _flat_jpeg(ncomp: int) -> bytes:
    """An 8x8 baseline JPEG of ``ncomp`` components, each one flat block
    at level 128. Its one-code Huffman tables differ from the encoder's,
    and each block's entropy data is two zero bits (DC size 0, EOB)."""
    one_code = bytes([1] + [0] * 15) + b"\x00"
    sof = struct.pack(">BHHB", 8, 8, 8, ncomp) + b"".join(
        bytes([c + 1, 0x11, 0]) for c in range(ncomp)
    )
    sos = bytes([ncomp]) + b"".join(bytes([c + 1, 0x00]) for c in range(ncomp))
    sos += b"\x00\x3f\x00"
    return (
        b"\xff\xd8"
        + b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes([1] * 64)
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
        + b"\xff\xc4" + struct.pack(">H", 2 + 18) + b"\x00" + one_code
        + b"\xff\xc4" + struct.pack(">H", 2 + 18) + b"\x10" + one_code
        + b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        + bytes([(1 << (8 - 2 * ncomp)) - 1])  # 2 bits a block, 1-padded
        + b"\xff\xd9"
    )


def test_unsupported_image_formats_raise():
    """decode_raster reads what encode_png_gray and encode_jpeg write
    and refuses every other image, including well-formed files in
    formats and variants it decoded once."""
    gray_tiff = (
        b"II*\x00" + struct.pack("<IH", 8, 4)
        + b"".join(
            struct.pack("<HHII", tag, 4, 1, value)
            for tag, value in ((256, 1), (257, 1), (273, 62), (279, 1))
        )
        + struct.pack("<I", 0) + b"\x7f"
    )
    bmp24 = (
        b"BM" + struct.pack("<IHHI", 58, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4, 2835, 2835, 0, 0)
        + b"\x10\x20\x30\x00"
    )
    payloads = {
        "webp": b"RIFF\x00\x00\x00\x00WEBPVP8 ",
        "truncated jpeg": b"\xff\xd8\xff\xe0 not a full jpeg",
        "gif": (
            b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
            b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;"
        ),
        "tiff": gray_tiff,
        "bmp24": bmp24,
        "pgm": b"P5\n1 1\n255\n\x7f",
        "rgb png": _png((1, 1, 8, 2, 0, 0, 0), b"\x00\x10\x20\x30"),
        "adam7 png": _png((1, 1, 8, 0, 0, 0, 1), b"\x00\x7f"),
        "palette png": _png((1, 1, 8, 3, 0, 0, 0), b"\x00\x00", plte=b"\x10\x20\x30"),
        "3-component jpeg": _flat_jpeg(3),
    }
    accepted = []
    for name, payload in payloads.items():
        try:
            decode_raster(payload)
        except NotImplementedError:
            continue
        accepted.append(name)
    assert accepted == []


# ---------------------------------------------------------------------------
# Baseline JPEG: pure-stdlib encoder/decoder roundtrip (functions/jpeg.py).
# ---------------------------------------------------------------------------
def test_jpeg_roundtrip_grayscale():
    g = bytes((x * 7 + y * 13) % 256 for y in range(12) for x in range(9))
    W, H, out = decode_jpeg(encode_jpeg(9, 12, g, quality=95))
    assert (W, H) == (9, 12)
    assert max(abs(a - b) for a, b in zip(out, g)) <= 4


def test_jpeg_progressive_raises():
    # minimal stream whose first frame marker is SOF2 (progressive)
    sof2 = b"\xff\xd8" + b"\xff\xc2" + struct.pack(">H", 11) + struct.pack(
        ">BHHB", 8, 1, 1, 1
    ) + b"\x01\x11\x00"
    with pytest.raises(NotImplementedError):
        decode_jpeg(sof2)


def test_jpeg_through_decode_raster():
    # a stream with other Huffman tables than the encoder's decodes too
    assert decode_raster(_flat_jpeg(1)) == (8, 8, bytes([128]) * 64)
    w, h = 16, 8
    width, height, raster = decode_raster(encode_jpeg(w, h, bytes([150]) * (w * h), quality=100))
    assert (width, height) == (w, h)
    assert sum(raster) / len(raster) == pytest.approx(150, abs=2)


@given(
    bw=st.integers(1, 4),
    bh=st.integers(1, 4),
    data=st.data(),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_jpeg_flat_blocks_roundtrip_property(bw, bh, data):
    """Flat 8x8-aligned blocks have DC-only spectra, so at quality 100
    (all-ones quantization) the round trip is exact up to rounding."""
    w, h = bw * 8, bh * 8
    blocks = [
        [data.draw(st.integers(0, 255), label=f"b{by}_{bx}") for bx in range(bw)]
        for by in range(bh)
    ]
    raster = bytes(blocks[y // 8][x // 8] for y in range(h) for x in range(w))
    W, H, out = decode_jpeg(encode_jpeg(w, h, raster, quality=100))
    assert (W, H) == (w, h)
    assert max(abs(a - b) for a, b in zip(out, raster)) <= 1


def test_wav_decode_exact():
    d = decode_audio_real(wav16(800, rate=8000, amp=1000, channels=2))
    assert d["channels"] == 2 and d["sample_rate"] == 8000
    assert d["n_samples"] == 800
    assert d["duration_s"] == pytest.approx(0.1)
    assert d["rms"] == pytest.approx(1000.0)  # constant amplitude


def test_non_wav_raises():
    """decode_audio_real reads 16-bit PCM WAV only; AIFF and Sun AU,
    which it decoded once, raise too."""
    comm = struct.pack(">hIhHQ", 1, 1, 16, 16383 + 12, 8000 << 51)  # 8000 Hz
    ssnd = struct.pack(">IIh", 0, 0, 100)
    body = (
        b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    )
    payloads = {
        "id3": b"ID3\x03not audio at all",
        "aiff": b"FORM" + struct.pack(">I", len(body)) + body,
        "mu-law au": struct.pack(">4s5I", b".snd", 24, 2, 1, 8000, 1) + b"\xff\x7f",
    }
    accepted = []
    for name, payload in payloads.items():
        try:
            decode_audio_real(payload)
        except NotImplementedError:
            continue
        accepted.append(name)
    assert accepted == []


def test_probe_image_dims_header_only():
    """Triage must never pay a pixel decode: the dims come from the SOF0
    header, also of a JPEG whose entropy-coded data is garbage and whose
    full decode therefore raises."""
    good = encode_jpeg(32, 48, bytes(32 * 48))
    assert probe_image_dims(good) == (32, 48)
    assert decode_raster(good)[:2] == (32, 48)  # header agrees with decode
    sos = good.index(b"\xff\xda")
    broken = good[: sos + 10] + b"\xff\xd0" * 4 + b"\xff\xd9"
    assert probe_image_dims(broken) == (32, 48)
    with pytest.raises(NotImplementedError):
        decode_raster(broken)
    for payload in (encode_png_gray(9, 8, bytes(72)), b"\xff\xd8\xff\xe0\x00"):
        with pytest.raises(NotImplementedError):
            probe_image_dims(payload)


# ---------------------------------------------------------------------------
# JPEG EXIF: orientation + capture timestamp.
# ---------------------------------------------------------------------------
def _exif_jpeg(orientation=1, dto=None, w=8, h=8):
    base = encode_jpeg(w, h, bytes(range(w * h // 256 + 1)) * 256, quality=90)
    return base[:2] + encode_exif_app1(orientation, dto) + base[2:]


def test_exif_roundtrip_all_tags():
    assert parse_exif(_exif_jpeg(6, "2024:02:29 09:30:00")) == {
        "orientation": 6,
        "datetime_original": "2024:02:29 09:30:00",
    }
    # orientation-only segment: the timestamp is None
    assert parse_exif(_exif_jpeg(3)) == {"orientation": 3, "datetime_original": None}


def test_exif_probe_integration_and_dims_unaffected():
    p = _exif_jpeg(8, dto="2021:12:31 23:59:59", w=16, h=8)
    assert probe_image_dims(p) == (16, 8)  # APP1 walk doesn't break SOF
    assert parse_exif(p) == {"orientation": 8, "datetime_original": "2021:12:31 23:59:59"}
    # plain JPEG: EXIF fields None, probe still fine
    plain = encode_jpeg(8, 8, bytes(64), quality=90)
    assert parse_exif(plain) == {"orientation": None, "datetime_original": None}
    assert probe_image_dims(plain) == (8, 8)


def test_exif_rejects_corrupt_segments():
    """A truncated or garbage EXIF segment, a big-endian TIFF block and
    a non-JPEG payload raise NotImplementedError and nothing else."""
    full = _exif_jpeg(6, "2024:03:01 10:00:00")
    app1_end = 4 + int.from_bytes(full[4:6], "big")
    for cut in (14, 20, 30, 44):
        truncated = full[:cut] + full[app1_end:]
        truncated = truncated[:4] + (cut - 4).to_bytes(2, "big") + truncated[6:]
        with pytest.raises(NotImplementedError):
            parse_exif(truncated)
    for payload in (
        b"\xff\xd8\xff\xe1\x00\x10Exif\x00\x00GARBAGE!",
        b"\xff\xd8\xff\xe1\x00\x10Exif\x00\x00MM\x00*\x00\x00\x00\x08",
        b"not a jpeg",
    ):
        with pytest.raises(NotImplementedError):
            parse_exif(payload)


def test_apply_exif_orientation_all_eight():
    """Every EXIF orientation against hand-derived expected rasters on
    an asymmetric 3x2 single-channel image.
    Source (rows top-down):  a b c
                             d e f"""
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
    w, h = 16, 8
    raster = bytes(((x * 13 + y * 29) % 256) for y in range(h) for x in range(w))
    base = encode_jpeg(w, h, raster, quality=95)
    tagged = base[:2] + encode_exif_app1(orientation=6) + base[2:]

    thumb, tw, th = thumbnail_real(tagged, target_long_side=8, quality=95)
    assert (tw, th) == (4, 8)  # portrait after orienting, THEN halved

    # pixel parity with the reference chain: decode -> orient -> same
    # nearest-neighbour downscale -> same encoder (bit-identical JPEG)
    dw, dh, draster = decode_jpeg(base)
    ow, oh, oriented = apply_exif_orientation(dw, dh, 1, draster, 6)
    ref = bytearray()
    for y in range(8):
        sy = y * oh // 8
        for x in range(4):
            sx = x * ow // 4
            ref += oriented[sy * ow + sx : sy * ow + sx + 1]
    assert thumb == encode_jpeg(4, 8, bytes(ref), quality=95)

    # untagged: stored geometry is respected
    _, tw3, th3 = thumbnail_real(base, 8, 95)
    assert (tw3, th3) == (8, 4)


# ---------------------------------------------------------------------------
# encode_png_gray + dhash64 (the x205 substrate)
# ---------------------------------------------------------------------------
def test_png_gray_roundtrip_is_lossless():
    w, h = 27, 16
    raster = bytes((x * 7 + y * 13) % 256 for y in range(h) for x in range(w))
    assert decode_raster(encode_png_gray(w, h, raster)) == (w, h, raster)  # bit-exact


def test_dhash64_matches_hand_computation_and_perturbation_bound():
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
    with pytest.raises(NotImplementedError, match="9x8"):
        dhash64(encode_png_gray(8, 8, bytes(64)))


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_png_gray_roundtrip_property(w, h, seed):
    """Any 8-bit grayscale raster survives encode->decode bit-exactly —
    the losslessness x205's hash contract rests on."""
    raster = bytes((seed + i * 2654435761) % 256 for i in range(w * h))
    assert decode_raster(encode_png_gray(w, h, raster)) == (w, h, raster)


# The doc_id ranges each media query's per-row code cycles through:
# x83 and x153 over 200 docs, x187 over 120 (orientation x width x
# height residues), x205 over 60 and x180 over 50.
_QUERY_BATCHES = {
    "_frame_batches": 200,
    "_exif_batches": 200,
    "_thumb_batches": 120,
    "_dhash_batches": 60,
    "_audio_batches": 50,
}


def test_every_codec_function_runs_under_a_query():
    """Runtime guard for what the static reachability guard
    (``tests/test_catalog.py::test_every_engine_function_is_reached_from_a_root``)
    cannot see: that guard counts a decoder as reached whenever a
    dispatcher names it, whether or not a query ever feeds it a payload.
    Here each media query's batch function runs in-process over its
    doc_id range, and every ``def`` in ``functions/media.py`` and
    ``functions/jpeg.py`` must execute at least once. A codec branch no
    query feeds is dead weight: delete it."""
    import ast
    import sys

    import pandas as pd

    from ua2sql_spark.functions import jpeg, media
    from ua2sql_spark.queries import multimodal

    defs = {}
    for module in (media, jpeg):
        for node in ast.walk(ast.parse(open(module.__file__).read())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                defs[(module.__file__, first)] = f"{module.__name__}.{node.name}"
    ran = set()

    def on_call(frame, event, arg):
        ran.add((frame.f_code.co_filename, frame.f_code.co_firstlineno))

    multimodal._exif_base_jpeg.cache_clear()
    previous = sys.gettrace()
    sys.settrace(on_call)
    try:
        for name, n_docs in _QUERY_BATCHES.items():
            pdf = pd.DataFrame({"doc_id": range(n_docs)})
            pdf["payload"] = [b"p" * (i * 37) for i in range(n_docs)]  # x83's
            for _ in getattr(multimodal, name)(iter([pdf])):
                pass
    finally:
        sys.settrace(previous)
    missed = sorted(name for key, name in defs.items() if key not in ran)
    assert missed == [], "no media query runs: " + ", ".join(missed)
