"""Pure-stdlib GIF codec (X6 media seam, SURVEY §2.11).

GIF87a/89a decode: logical screen + global/local color tables, variable-
width LZW with dictionary growth/reset, interlaced row ordering, and
extension-block skipping (first frame of animations). The tests build
their fixtures with a real LZW encoder (``tests/helpers.py``); GIF is
lossless, so roundtrips are exact.

Same seam contract as functions/jpeg.py: pure Python is the correctness
tier behind the Arrow-batched ``mapInPandas`` plumbing; a production
cluster binds the identical seam to a native codec.
"""

from __future__ import annotations

import struct


class GifError(NotImplementedError):
    """Unsupported or malformed GIF stream (NotImplementedError so the
    media seam's uniform unsupported-variant contract holds)."""


def _read_color_table(payload: bytes, pos: int, packed: int) -> tuple[list[bytes], int]:
    if not packed & 0x80:
        return [], pos
    n = 2 << (packed & 0x07)
    table = [payload[pos + 3 * i : pos + 3 * i + 3] for i in range(n)]
    return table, pos + 3 * n


def _skip_subblocks(payload: bytes, pos: int) -> int:
    while payload[pos] != 0:
        pos += 1 + payload[pos]
    return pos + 1


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> bytearray:
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    dictionary: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits  # GIF packs codes LSB-first
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                dictionary = [bytes([i]) for i in range(clear)] + [b"", b""]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if code < len(dictionary):
                entry = dictionary[code]
            elif code == len(dictionary) and prev is not None:
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise GifError(f"LZW code {code} out of range")
            out += entry
            # 4096 is the 12-bit ceiling: a deferred-clear encoder keeps
            # emitting codes from the full table without resetting.
            if prev is not None and len(dictionary) < 4096:
                dictionary.append(prev + entry[:1])
                if len(dictionary) == (1 << code_size) and code_size < 12:
                    code_size += 1
            prev = entry
            if len(out) >= n_pixels:
                return out
    return out


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode the first frame of a GIF to (width, height, 3, rgb_raster)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise GifError("not a GIF stream")
    try:
        _sw, _sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
        pos = 13
        gct, pos = _read_color_table(payload, pos, packed)
        while True:
            block = payload[pos]
            if block == 0x3B:  # trailer
                raise GifError("GIF contains no image descriptor")
            if block == 0x21:  # extension: label byte + sub-blocks
                pos = _skip_subblocks(payload, pos + 2)
                continue
            if block != 0x2C:
                raise GifError(f"unknown GIF block 0x{block:02x}")
            _left, _top, width, height, ipacked = struct.unpack_from(
                "<HHHHB", payload, pos + 1
            )
            pos += 10
            lct, pos = _read_color_table(payload, pos, ipacked)
            palette = lct or gct
            if not palette:
                raise GifError("GIF image has no color table")
            min_code_size = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos] != 0:
                n = payload[pos]
                data += payload[pos + 1 : pos + 1 + n]
                pos += 1 + n
            indices = _lzw_decode(min_code_size, bytes(data), width * height)
            if len(indices) < width * height:
                raise GifError("GIF pixel data short of frame dimensions")
            if ipacked & 0x40:  # interlaced: 4-pass row order
                rows = [indices[r * width : (r + 1) * width] for r in range(height)]
                ordered: list = [None] * height
                src = iter(rows)
                for start, step in _INTERLACE_PASSES:
                    for y in range(start, height, step):
                        ordered[y] = next(src)
                indices = bytearray().join(bytes(r) for r in ordered)
            out = bytearray(width * height * 3)
            for i in range(width * height):
                out[3 * i : 3 * i + 3] = palette[indices[i]]
            return width, height, 3, bytes(out)
    except (struct.error, IndexError) as exc:
        raise GifError(f"malformed GIF stream: {exc!r}") from exc
