"""Pure-Python PNG codec.

Decode correctness is pinned against hand-filtered scanlines (every
PNG filter type forward-applied in the test, so the decoder must
invert them exactly)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from tableone_pyspark_spark.functions import png


def _rng(seed=0):
    return np.random.default_rng(seed)


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_round_trip_all_color_types(channels):
    arr = _rng(channels).integers(0, 256, size=(13, 7, channels), dtype=np.uint8)
    out = png.decode_png(png.encode_png(arr))
    assert out.shape == arr.shape
    assert np.array_equal(out, arr)


def test_meta_without_decode():
    arr = _rng(1).integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    assert png.png_meta(png.encode_png(arr)) == (9, 5, 3, 8)


def _forward_filter(arr: np.ndarray, ftypes: list[int]) -> bytes:
    """Apply PNG filters row-by-row (the encoder side of RFC 2083
    §6.1) so the decoder's inverse is tested against the spec."""
    h, w, c = arr.shape
    stride, bpp = w * c, c
    flat = arr.reshape(h, stride).astype(np.int64)
    out = b""
    for y, f in enumerate(ftypes):
        cur = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int64)
        filt = np.zeros(stride, dtype=np.int64)
        for x in range(stride):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            cc = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            filt[x] = (cur[x] - pred) & 0xFF
        out += bytes([f]) + bytes(filt.astype(np.uint8))
    return out


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _assemble(arr: np.ndarray, ftypes: list[int]) -> bytes:
    h, w, c = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 2: 4, 3: 2, 4: 6}[c], 0, 0, 0)
    return (
        png.PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(_forward_filter(arr, ftypes)))
        + _chunk(b"IEND", b"")
    )


def test_decoder_inverts_every_filter_type():
    arr = _rng(42).integers(0, 256, size=(10, 6, 3), dtype=np.uint8)
    # one row of each filter, then repeats — exercises row-to-row state
    ftypes = [0, 1, 2, 3, 4, 4, 3, 2, 1, 0]
    assert np.array_equal(png.decode_png(_assemble(arr, ftypes)), arr)


def test_crc_corruption_detected():
    data = bytearray(png.encode_png(np.zeros((4, 4), dtype=np.uint8)))
    data[40] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(ValueError, match="CRC"):
        png.decode_png(bytes(data))


def test_unsupported_variants_raise():
    # spec-invalid combos: 4-bit RGB, 16-bit palette
    ihdr4rgb = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)
    bad_rgb = png.PNG_MAGIC + _chunk(b"IHDR", ihdr4rgb) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="invalid for color type"):
        png.png_meta(bad_rgb)
    ihdr16p = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
    deep_pal = png.PNG_MAGIC + _chunk(b"IHDR", ihdr16p) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="invalid for color type"):
        png.png_meta(deep_pal)
    # invalid interlace method byte
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 7)
    inter = png.PNG_MAGIC + _chunk(b"IHDR", ihdr_i) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="interlace"):
        png.png_meta(inter)
    with pytest.raises(ValueError, match="not a PNG"):
        png.png_meta(b"GIF89a...")
    # png_meta stays IHDR-only: tRNS does not change reported channels
    idx = np.zeros((2, 2), dtype=np.uint8)
    pal = np.zeros((1, 3), dtype=np.uint8)
    body = png.encode_png_palette(idx, pal)
    iend = body[-12:]
    with_trns = body[:-12] + _chunk(b"tRNS", b"\x80") + iend
    assert png.png_meta(with_trns) == (2, 2, 3, 8)
    assert png.decode_png(with_trns).shape == (2, 2, 4)  # decoded: RGBA


def test_palette_decode_expands_plte():
    # spec pin: each index byte maps through PLTE to its RGB triple
    idx = np.array([[0, 1], [2, 1]], dtype=np.uint8)
    pal = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 128]], dtype=np.uint8
    )
    out = png.decode_png(png.encode_png_palette(idx, pal))
    assert out.shape == (2, 2, 3)
    assert np.array_equal(out, pal[idx])
    # meta reports DECODED channels (3), not the coded index plane
    assert png.png_meta(png.encode_png_palette(idx, pal)) == (2, 2, 3, 8)


def test_palette_identity_gray_matches_grayscale_decode():
    # the fixture-generator trick: identity palette == grayscale pixels
    arr = _rng(7).integers(0, 256, size=(6, 5), dtype=np.uint8)
    gray_pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    out = png.decode_png(png.encode_png_palette(arr, gray_pal))
    assert np.array_equal(out[:, :, 0], arr)
    assert np.array_equal(out[:, :, 1], arr)
    assert np.array_equal(out[:, :, 2], arr)


def test_palette_index_out_of_range_raises():
    idx = np.full((2, 2), 5, dtype=np.uint8)
    pal = np.zeros((3, 3), dtype=np.uint8)  # only indices 0-2 valid
    with pytest.raises(ValueError, match="PLTE range"):
        png.decode_png(png.encode_png_palette(idx, pal))


def test_bomb_guards():
    # absurd declared dimensions fail before any allocation
    ihdr = struct.pack(">IIBBBBB", 1 << 20, 1 << 20, 8, 0, 0, 0, 0)
    huge = png.PNG_MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="bomb guard"):
        png.png_meta(huge)
    with pytest.raises(ValueError, match="bomb guard"):
        png.decode_png(huge)
    # per-call override tightens the cap
    small = png.encode_png(np.zeros((8, 8), dtype=np.uint8))
    with pytest.raises(ValueError, match="bomb guard"):
        png.png_meta(small, max_pixels=16)
    # oversize IDAT stream (bomb body behind honest IHDR) fails fast:
    # 10 MB of zeros declared as a 2x2 gray image
    bomb_raw = zlib.compress(b"\x00" * (10 << 20), 9)
    ihdr2 = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    bomb = (
        png.PNG_MAGIC
        + _chunk(b"IHDR", ihdr2)
        + _chunk(b"IDAT", bomb_raw)
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="bomb"):
        png.decode_png(bomb)


def test_truncated_mid_chunk_raises_value_error():
    data = png.encode_png(np.zeros((4, 4), dtype=np.uint8))
    # cut inside the final chunk: length field survives, body doesn't
    with pytest.raises(ValueError, match="truncated"):
        png.decode_png(data[:-5])


def test_resize_and_grayscale_primitives():
    arr = _rng(3).integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    small = png.resize_nearest(arr, 4, 2)
    assert small.shape == (2, 4, 3)
    assert np.array_equal(small[0, 0], arr[0, 0])  # nearest keeps corners
    g = png.grayscale(arr)
    r, gg, b = (arr[..., i].astype(np.int64) for i in range(3))
    assert np.array_equal(g, ((77 * r + 150 * gg + 29 * b) >> 8).astype(np.uint8))


# property: round-trip holds for arbitrary shapes/channels/content
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    c=st.integers(1, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_round_trip_property(w, h, c, seed):
    arr = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, c), dtype=np.uint8
    )
    assert np.array_equal(png.decode_png(png.encode_png(arr)), arr)


def test_16bit_round_trip_and_filters():
    """16-bit samples: byte-wise unfiltering with bpp = 2*channels,
    big-endian assembly. Round trip must be exact for gray and RGB,
    and meta reports depth 16."""
    rng = _rng(16)
    g16 = rng.integers(0, 65536, size=(9, 5), dtype=np.uint16)
    out = png.decode_png(png.encode_png(g16))
    assert out.dtype == np.uint16 and out.shape == (9, 5, 1)
    assert np.array_equal(out[:, :, 0], g16)
    assert png.png_meta(png.encode_png(g16)) == (5, 9, 1, 16)
    rgb16 = rng.integers(0, 65536, size=(4, 7, 3), dtype=np.uint16)
    out3 = png.decode_png(png.encode_png(rgb16))
    assert out3.dtype == np.uint16 and np.array_equal(out3, rgb16)
    # hand-filtered Sub row at 16-bit: decoder must invert byte-wise
    # with bpp=2 (filtering operates on bytes, not samples)
    row = np.array([[1000, 2000, 3000]], dtype=np.uint16)
    enc = png.encode_png(row)
    dec = png.decode_png(enc)
    assert np.array_equal(dec[0, :, 0], row[0])


def test_16bit_grayscale_and_metadata_scale():
    """grayscale() down-converts 16-bit via the high byte."""
    v = np.full((8, 8), 0x8000, dtype=np.uint16)  # mid-gray
    arr = png.decode_png(png.encode_png(v))
    g = png.grayscale(arr)
    assert g.dtype == np.uint8 and np.all(g == 0x80)


def _assemble_adam7(arr: np.ndarray) -> bytes:
    """Hand-build an interlaced PNG: each Adam7 pass's sub-image as
    filter-0 scanlines, in spec pass order — the decoder must scatter
    them back exactly."""
    h, w, c = arr.shape
    passes = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    raw = b""
    for x0, y0, dx, dy in passes:
        sub = arr[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for y in range(sub.shape[0]):
            raw += b"\x00" + sub[y].tobytes()
    ihdr = struct.pack(
        ">IIBBBBB", w, h, 8, {1: 0, 2: 4, 3: 2, 4: 6}[c], 0, 0, 1
    )
    return (
        png.PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("shape", [(8, 8, 1), (13, 7, 3), (5, 11, 4), (1, 1, 1)])
def test_adam7_interlaced_decode(shape):
    arr = _rng(sum(shape)).integers(0, 256, size=shape, dtype=np.uint8)
    out = png.decode_png(_assemble_adam7(arr))
    assert out.shape == arr.shape
    assert np.array_equal(out, arr)


def _pack_subbyte(samples: np.ndarray, depth: int) -> bytes:
    """Pack (h, w) samples into big-endian bit groups, filter-0 rows."""
    h, w = samples.shape
    raw = b""
    for y in range(h):
        bits = np.zeros(w * depth, dtype=np.uint8)
        for x in range(w):
            v = int(samples[y, x])
            for b in range(depth):
                bits[x * depth + b] = (v >> (depth - 1 - b)) & 1
        raw += b"\x00" + np.packbits(bits).tobytes()
    return raw


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_subbyte_gray_decode(depth):
    """Sub-byte grayscale: big-endian bit unpacking + exact 8-bit
    presentation scaling (255/(2^d-1) is integral)."""
    maxv = (1 << depth) - 1
    samples = _rng(depth).integers(0, maxv + 1, size=(5, 11), dtype=np.uint8)
    ihdr = struct.pack(">IIBBBBB", 11, 5, depth, 0, 0, 0, 0)
    data = (
        png.PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(_pack_subbyte(samples, depth)))
        + _chunk(b"IEND", b"")
    )
    assert png.png_meta(data) == (11, 5, 1, depth)
    out = png.decode_png(data)
    assert out.shape == (5, 11, 1)
    assert np.array_equal(out[:, :, 0], samples * (255 // maxv))


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_subbyte_palette_decode(depth):
    """Sub-byte palette: bit-group indices through PLTE."""
    maxv = (1 << depth) - 1
    idx = _rng(10 + depth).integers(0, maxv + 1, size=(4, 7), dtype=np.uint8)
    pal = _rng(20 + depth).integers(0, 256, size=(maxv + 1, 3), dtype=np.uint8)
    ihdr = struct.pack(">IIBBBBB", 7, 4, depth, 3, 0, 0, 0)
    data = (
        png.PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", pal.tobytes())
        + _chunk(b"IDAT", zlib.compress(_pack_subbyte(idx, depth)))
        + _chunk(b"IEND", b"")
    )
    out = png.decode_png(data)
    assert out.shape == (4, 7, 3)
    assert np.array_equal(out, pal[idx])


def test_subbyte_interlaced_gray():
    """1-bit Adam7: per-pass bit rows, scattered back."""
    samples = _rng(31).integers(0, 2, size=(9, 9), dtype=np.uint8)
    passes = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    raw = b""
    for x0, y0, dx, dy in passes:
        sub = samples[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        raw += _pack_subbyte(sub, 1)
    ihdr = struct.pack(">IIBBBBB", 9, 9, 1, 0, 0, 0, 1)
    data = (
        png.PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    out = png.decode_png(data)
    assert np.array_equal(out[:, :, 0], samples * 255)


def test_trns_palette_alpha_table():
    """tRNS on palette: per-entry alpha, entries past the chunk opaque."""
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    pal = np.array([[10, 20, 30], [40, 50, 60], [70, 80, 90]], dtype=np.uint8)
    body = png.encode_png_palette(idx, pal)
    iend = body[-12:]
    data = body[:-12] + _chunk(b"tRNS", bytes([0, 128])) + iend
    out = png.decode_png(data)
    assert out.shape == (2, 2, 4)
    assert np.array_equal(out[:, :, :3], pal[idx])
    # entry 0 -> alpha 0, entry 1 -> 128, entry 2 (past chunk) -> 255
    assert out[0, 0, 3] == 0 and out[0, 1, 3] == 128 and out[1, 0, 3] == 255


def test_trns_gray_and_rgb_color_key():
    """tRNS on gray/RGB: the named sample tuple becomes alpha 0."""
    g = np.array([[7, 8], [7, 9]], dtype=np.uint8)
    body = png.encode_png(g)
    iend = body[-12:]
    data = body[:-12] + _chunk(b"tRNS", struct.pack(">H", 7)) + iend
    out = png.decode_png(data)
    assert out.shape == (2, 2, 2)  # gray + alpha
    assert np.array_equal(out[:, :, 0], g)
    assert np.array_equal(out[:, :, 1], np.where(g == 7, 0, 255))

    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    rgb[0, 1] = [9, 9, 9]
    body = png.encode_png(rgb)
    iend = body[-12:]
    data = body[:-12] + _chunk(b"tRNS", struct.pack(">HHH", 9, 9, 9)) + iend
    out = png.decode_png(data)
    assert out.shape == (2, 2, 4)
    assert out[0, 1, 3] == 0 and out[0, 0, 3] == 255

    # RGBA input: tRNS is spec-forbidden alongside alpha -> ignored
    rgba = np.zeros((2, 2, 4), dtype=np.uint8)
    body = png.encode_png(rgba)
    iend = body[-12:]
    data = body[:-12] + _chunk(b"tRNS", struct.pack(">H", 0)) + iend
    assert png.decode_png(data).shape == (2, 2, 4)
