"""Pure-stdlib PNG codec tests (operators/png.py).

The encoder only emits filter 0, so round-trips alone would leave the
Sub/Up/Average/Paeth unfilter arms untested; the filter-coverage test
builds spec-filtered scanlines by hand (the forward transforms from PNG
spec §6) and asserts the decoder inverts every one of them.
"""

from __future__ import annotations

import struct
import zlib

import pytest

from weatherdatapipeline_spark.operators.png import (
    PNG_SIGNATURE,
    StdlibImage,
    _paeth,
    decode_png,
    encode_png,
    stdlib_image_module,
)


def _raster(width, height, ch, seed=7):
    return bytes((seed + 31 * i) % 251 for i in range(width * height * ch))


@pytest.mark.parametrize("mode,ch", [("L", 1), ("LA", 2), ("RGB", 3), ("RGBA", 4)])
def test_roundtrip_all_modes(mode, ch):
    w, h = 9, 5
    data = _raster(w, h, ch)
    img = decode_png(encode_png(w, h, mode, data))
    assert (img.width, img.height, img.mode) == (w, h, mode)
    assert img.tobytes() == data


def _forward_filter(ftype, line, prev, bpp):
    out = bytearray()
    for i in range(len(line)):
        left = line[i - bpp] if i >= bpp else 0
        up = prev[i]
        ul = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) >> 1
        else:
            pred = _paeth(left, up, ul)
        out.append((line[i] - pred) & 0xFF)
    return bytes(out)


def _png_with_filters(width, height, mode, data, filters):
    """Assemble a PNG whose row y uses filters[y] — exercises unfiltering."""
    from weatherdatapipeline_spark.operators.png import _MODE_CHANNELS, _MODE_COLOR_TYPE

    ch = _MODE_CHANNELS[mode]
    stride = width * ch
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = data[y * stride : (y + 1) * stride]
        raw.append(filters[y])
        raw += _forward_filter(filters[y], line, prev, ch)
        prev = line

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, _MODE_COLOR_TYPE[mode], 0, 0, 0)
    return (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("mode,ch", [("L", 1), ("RGB", 3), ("RGBA", 4)])
def test_unfilter_every_filter_type(mode, ch):
    w, h = 7, 5
    data = _raster(w, h, ch, seed=13)
    blob = _png_with_filters(w, h, mode, data, filters=[0, 1, 2, 3, 4])
    img = decode_png(blob)
    assert img.tobytes() == data


def test_corrupt_and_unsupported_pngs():
    w, h = 4, 4
    good = encode_png(w, h, "L", _raster(w, h, 1))
    # flipped payload byte breaks the chunk CRC
    bad = bytearray(good)
    bad[40] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(bad))
    with pytest.raises(ValueError):
        decode_png(good[:20])  # truncated
    # palette color type (3) is out of scope
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF
        )

    pal = PNG_SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(b"\x00" * 6)) + chunk(b"IEND", b"")
    with pytest.raises(NotImplementedError):
        decode_png(pal)
    # 16-bit depth is out of scope
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    deep = PNG_SIGNATURE + chunk(b"IHDR", ihdr16) + chunk(b"IDAT", zlib.compress(b"\x00" * 10)) + chunk(b"IEND", b"")
    with pytest.raises(NotImplementedError):
        decode_png(deep)


def test_convert_resize_and_module_surface():
    import io

    img = StdlibImage(6, 2, "RGB", bytes([255, 0, 0]) * 12)
    grey = img.convert("L")
    assert grey.mode == "L" and set(grey.getdata()) == {(255 * 299 + 500) // 1000}
    small = grey.resize((3, 1))
    assert small.size == (3, 1) and len(small.getdata()) == 3
    # encode → open round-trip through the module surface
    back = stdlib_image_module.open(io.BytesIO(encode_png(6, 2, "RGB", img.tobytes())))
    assert isinstance(back, StdlibImage)
    assert back.size == img.size and back.tobytes() == img.tobytes()
