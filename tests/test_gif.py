"""Pure-Python GIF codec.

LZW decode is pinned against a HAND-PACKED spec vector (codes derived
on paper from the GIF89a LZW rules, including the width-growth edge),
so the decoder's correctness does not depend on the encoder; the
encoder is then validated by exact round trips across sizes that cross
the 4096-entry table-clear boundary, interlace, animation disposal,
and version variants. Hostile inputs must fail with ValueError, never
struct.error or OOM (same contract as png.py/jpeg.py).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tableone_pyspark_spark.functions import gif


def _rng(seed=0):
    return np.random.default_rng(seed)


_GRAY_PAL = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)


# ---------------------------------------------------------------------------
# LZW
# ---------------------------------------------------------------------------


def test_lzw_hand_packed_spec_vector():
    # pixels [0,1,2,2,1] with min_code_size=2: clear=4, eoi=5, width
    # starts at 3. Encoder emissions (deriving the decoder's table
    # growth by hand): CLEAR(w3) 0(w3) 1(w3) 2(w3) — after the decoder
    # processes the third data code its table holds 8 entries == 1<<3,
    # so the remaining codes widen to 4 bits — 2(w4) 1(w4) EOI(w4).
    # LSB-first packing: 4 |0<<3 |1<<6 |2<<9 |2<<12 |1<<16 |5<<20
    # = 5317700 = 0x512444 -> bytes 44 24 51.
    assert gif._lzw_decode(b"\x44\x24\x51", 2, 5) == bytes([0, 1, 2, 2, 1])


def test_lzw_trailing_pixels_ignored_and_truncation_raises():
    data = bytes(_rng(1).integers(0, 4, 50, dtype=np.uint8))
    enc = gif._lzw_encode(data, 2)
    # spec: pixels beyond the frame's declared count are discarded
    assert gif._lzw_decode(enc, 2, 40) == data[:40]
    with pytest.raises(ValueError, match="truncated|produced"):
        gif._lzw_decode(enc[: len(enc) // 2], 2, 50)


@pytest.mark.parametrize("n", [1, 255, 4095, 6000, 30000])
def test_lzw_round_trip_across_table_clear(n):
    # 18 symbols keeps strings short -> ~n dictionary entries, so
    # n >= 6000 forces the explicit Clear at table-full; 30000 forces
    # several
    data = bytes(_rng(n).integers(0, 18, n, dtype=np.uint8))
    assert gif._lzw_decode(gif._lzw_encode(data, 5), 5, n) == data


def test_lzw_rejects_garbage_codes():
    # width starts at 9 for mcs=8; code 300 with an empty table slot
    # beyond next_code must be rejected, not crash
    buf = (256 | (300 << 9)).to_bytes(3, "little")
    with pytest.raises(ValueError, match="LZW"):
        gif._lzw_decode(buf, 8, 10)


# ---------------------------------------------------------------------------
# container round trips
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize("version", [b"87a", b"89a"])
def test_single_frame_round_trip(interlace, version):
    idx = _rng(3).integers(0, 256, (19, 11), dtype=np.uint8)
    payload = gif.encode_gif(idx, _GRAY_PAL, interlace=interlace, version=version)
    assert gif.is_gif(payload)
    arr = gif.decode_gif(payload)
    assert arr.shape == (19, 11, 3)
    assert np.array_equal(arr[:, :, 0], idx)
    assert np.array_equal(arr[:, :, 1], idx)  # identity palette
    assert gif.gif_meta(payload) == (11, 19, version.decode(), 1)


def test_small_palette_and_padding():
    # 5-entry palette pads to 8 (size_bits 2); indices stay valid
    pal = np.array([[250, 0, 0], [0, 250, 0], [0, 0, 250], [9, 9, 9], [1, 2, 3]],
                   dtype=np.uint8)
    idx = _rng(4).integers(0, 5, (7, 7), dtype=np.uint8)
    arr = gif.decode_gif(gif.encode_gif(idx, pal))
    assert np.array_equal(arr, pal[idx])


def test_out_of_palette_pixel_rejected():
    pal = np.zeros((4, 3), dtype=np.uint8)
    idx = np.full((3, 3), 2, dtype=np.uint8)
    payload = bytearray(gif.encode_gif(idx, pal))
    # corrupt the encoder check by patching the LZW payload is fiddly;
    # instead encode with a bigger palette then shrink the GCT size
    # bits in the logical screen descriptor: 4-entry table claimed but
    # pixels address entry 2 of a table we truncate to 2 entries
    big = gif.encode_gif(idx, np.zeros((256, 3), dtype=np.uint8))
    hacked = bytearray(big)
    hacked[10] = (hacked[10] & 0xF8) | 0x00  # GCT size -> 2 entries
    # drop the now-extra 254*3 palette bytes
    del hacked[13 + 6 : 13 + 768]
    with pytest.raises(ValueError, match="palette"):
        gif.decode_gif(bytes(hacked))


def test_animation_disposal_and_transparency():
    pal = _GRAY_PAL
    f0 = np.full((8, 8), 100, dtype=np.uint8)
    f1 = np.full((4, 4), 200, dtype=np.uint8)
    f1[0, 0] = 7  # transparent hole (index 7)
    frames = [
        (f0, 0, 0, 1, 5, None),   # keep
        (f1, 2, 2, 2, 5, 7),      # restore-background after
        (np.full((2, 2), 50, dtype=np.uint8), 0, 0, 0, 5, None),
    ]
    payload = gif.encode_gif_animation(frames, pal, 8, 8, bg_index=0)
    outs = gif.decode_gif_frames(payload)
    assert len(outs) == 3
    # frame 1: f1 drawn over f0 at (2,2), transparent pixel shows f0
    assert outs[1][2, 2, 0] == 100   # hole -> previous canvas value
    assert outs[1][3, 3, 0] == 200
    assert outs[1][0, 0, 0] == 100
    # frame 2: disposal-2 restored the f1 rect to background (0)
    assert outs[2][5, 5, 0] == 0
    assert outs[2][0, 0, 0] == 50
    assert outs[2][7, 7, 0] == 100  # outside both rects: f0 remains
    assert gif.gif_meta(payload)[3] == 3


def test_disposal_restore_previous():
    pal = _GRAY_PAL
    f0 = np.full((4, 4), 10, dtype=np.uint8)
    f1 = np.full((4, 4), 90, dtype=np.uint8)
    f2 = np.full((1, 1), 200, dtype=np.uint8)
    frames = [(f0, 0, 0, 0, 0, None), (f1, 0, 0, 3, 0, None),
              (f2, 3, 3, 0, 0, None)]
    outs = gif.decode_gif_frames(gif.encode_gif_animation(frames, pal, 4, 4))
    # disposal 3 on f1: canvas reverts to f0 before f2 composes
    assert outs[2][0, 0, 0] == 10
    assert outs[2][3, 3, 0] == 200


def test_first_frame_view_composes_background():
    # frame smaller than screen: decode_gif fills the rest with the
    # background color
    pal = _GRAY_PAL
    idx = np.full((2, 2), 200, dtype=np.uint8)
    payload = gif.encode_gif_animation([(idx, 1, 1, 0, 0, None)], pal, 5, 5,
                                       bg_index=33)
    arr = gif.decode_gif(payload)
    assert arr.shape == (5, 5, 3)
    assert arr[0, 0, 0] == 33
    assert arr[1, 1, 0] == 200


def test_gce_requires_89a():
    idx = np.zeros((2, 2), dtype=np.uint8)
    with pytest.raises(ValueError, match="89a"):
        gif.encode_gif(idx, _GRAY_PAL, version=b"87a", transparent=0)


# ---------------------------------------------------------------------------
# hostile inputs: ValueError always, before any big allocation
# ---------------------------------------------------------------------------


def _valid_payload():
    return gif.encode_gif(np.zeros((4, 4), dtype=np.uint8), _GRAY_PAL)


def test_truncations_raise_valueerror_everywhere():
    payload = _valid_payload()
    for cut in range(1, len(payload)):
        try:
            gif.decode_gif(payload[:cut])
        except ValueError:
            pass  # required type
        # any other exception type fails the test by propagating


def test_bomb_guard_screen_and_frame():
    with pytest.raises(ValueError, match="bomb"):
        gif.decode_gif(b"GIF89a" + struct.pack("<HHBBB", 60000, 60000, 0, 0, 0))
    # small screen, huge frame descriptor
    p = bytearray(_valid_payload())
    # image descriptor starts right after 13-byte header + 768 GCT
    off = 13 + 768
    assert p[off] == 0x2C
    struct.pack_into("<HH", p, off + 5, 60000, 60000)
    with pytest.raises(ValueError, match="bomb"):
        gif.decode_gif(bytes(p), max_pixels=1_000_000)


def test_animation_total_pixel_guard():
    idx = np.zeros((16, 16), dtype=np.uint8)
    frames = [(idx, 0, 0, 0, 0, None)] * 8
    payload = gif.encode_gif_animation(frames, _GRAY_PAL, 16, 16)
    with pytest.raises(ValueError, match="total pixels"):
        gif.decode_gif_frames(payload, max_total_pixels=1000)
    assert len(gif.decode_gif_frames(payload)) == 8


def test_unknown_block_type_rejected():
    p = bytearray(_valid_payload())
    p[13 + 768] = 0x7F  # clobber the image separator
    with pytest.raises(ValueError, match="unknown block"):
        gif.decode_gif(bytes(p))


# ---------------------------------------------------------------------------
# Hypothesis: LZW round trip over random alphabets/sizes
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.binary(min_size=0, max_size=3000), mcs=st.integers(2, 8))
def test_lzw_round_trip_property(data, mcs):
    # remap AFTER drawing mcs so every min-code-size sees its full
    # symbol range (including 64..255 at mcs 7/8)
    data = bytes(x % (1 << mcs) for x in data)
    assert gif._lzw_decode(gif._lzw_encode(data, mcs), mcs, len(data)) == data
