"""Pure-Python baseline JPEG codec.

Spec pins: the flat-block (DC-only) closed form must hold for every
source value (this is what makes the lossy codec SQL-oracle-checkable),
restart markers must not change output, color 4:4:4 must round-trip
within quantization error, and hostile payloads must fail fast."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tableone_pyspark_spark.functions import jpeg


def _rng(seed=0):
    return np.random.default_rng(seed)


def _flat_grid():
    """16x16 blocks, one flat 8x8 block per source value 0..255."""
    return np.repeat(
        np.repeat(np.arange(256, dtype=np.uint8).reshape(16, 16), 8, axis=0),
        8,
        axis=1,
    )


def test_flat_block_closed_form_all_256_values():
    a = _flat_grid()
    d = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(a))[:, :, 0]
    for i in range(16):
        for j in range(16):
            v = int(a[i * 8, j * 8])
            blk = d[i * 8 : i * 8 + 8, j * 8 : j * 8 + 8]
            assert np.all(blk == jpeg.flat_block_decode_value(v)), v


def test_meta_without_full_decode():
    a = _rng(1).integers(0, 256, size=(24, 17), dtype=np.uint8)
    assert jpeg.jpeg_meta(jpeg.encode_jpeg_gray(a)) == (17, 24, 1, 8)
    rgb = _rng(2).integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    assert jpeg.jpeg_meta(jpeg.encode_jpeg_rgb(rgb)) == (11, 9, 3, 8)


def test_restart_markers_do_not_change_pixels():
    a = _flat_grid()
    base = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(a))
    for dri in (1, 3, 5):
        with_rst = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(a, restart_interval=dri))
        assert np.array_equal(base, with_rst), dri


def test_gray_round_trip_bounded_by_quantization():
    # smooth content: error bounded well under the largest quant step
    y, x = np.mgrid[0:32, 0:24]
    g = ((y * 3 + x * 2) // 2 % 200 + 20).astype(np.uint8)
    d = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(g))[:, :, 0]
    err = np.abs(d.astype(int) - g.astype(int))
    assert err.max() <= 4 and err.mean() < 2
    # regression canary for the zigzag permutation direction: a
    # scrambled-AC encoder reads ~76 mean error on uniform noise
    a = _rng(0).integers(0, 256, size=(24, 17), dtype=np.uint8)
    dn = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(a))[:, :, 0]
    assert np.abs(dn.astype(int) - a.astype(int)).mean() < 25


def test_color_444_round_trip():
    y, x = np.mgrid[0:24, 0:24]
    rgb = np.stack([(y * 5) % 256, (x * 5) % 256, ((x + y) * 3) % 256], axis=2)
    rgb = rgb.astype(np.uint8)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg_rgb(rgb))
    assert dec.shape == (24, 24, 3)
    err = np.abs(dec.astype(int) - rgb.astype(int))
    assert err.max() <= 12 and err.mean() < 4
    # flat gray-in-RGB stays within DC quantization of the luma plane
    flat = np.full((8, 8, 3), 77, dtype=np.uint8)
    dflat = jpeg.decode_jpeg(jpeg.encode_jpeg_rgb(flat))
    assert np.abs(dflat.astype(int) - 77).max() <= 2
    # and restart markers are pixel-neutral in color too
    dec_rst = jpeg.decode_jpeg(jpeg.encode_jpeg_rgb(rgb, restart_interval=2))
    assert np.array_equal(dec, dec_rst)


def test_420_subsampled_round_trip():
    """4:2:0 (the common web layout): 2x2-block MCUs, chroma at half
    resolution, replication upsampling. Luma detail survives; chroma
    error bounded by the 2x2 box average."""
    # smooth non-wrapping ramps (a 255->0 wrap edge would be LEGITIMATE
    # chroma-box error up to ~1.77*128 — not what this pin is for)
    y, x = np.mgrid[0:24, 0:40]
    rgb = np.stack(
        [40 + y * 5, 30 + x * 4, 60 + (x + y) * 2], axis=2
    ).astype(np.uint8)
    payload = jpeg.encode_jpeg_rgb(rgb, subsampling="420")
    assert jpeg.jpeg_meta(payload) == (40, 24, 3, 8)
    dec = jpeg.decode_jpeg(payload)
    assert dec.shape == (24, 40, 3)
    err = np.abs(dec.astype(int) - rgb.astype(int))
    assert err.mean() < 6 and err.max() <= 20
    # 420 must be strictly smaller than 444 on the same image
    assert len(payload) < len(jpeg.encode_jpeg_rgb(rgb, subsampling="444"))
    # grayscale content: chroma planes are flat 128 -> 420 == 444 luma
    gray3 = np.repeat(
        _rng(9).integers(0, 256, size=(16, 16, 1), dtype=np.uint8), 3, axis=2
    )
    d420 = jpeg.decode_jpeg(jpeg.encode_jpeg_rgb(gray3, subsampling="420"))
    d444 = jpeg.decode_jpeg(jpeg.encode_jpeg_rgb(gray3, subsampling="444"))
    assert np.array_equal(d420, d444)
    # restart markers pixel-neutral with multi-block MCUs too
    d_rst = jpeg.decode_jpeg(
        jpeg.encode_jpeg_rgb(rgb, subsampling="420", restart_interval=2)
    )
    assert np.array_equal(dec, d_rst)


def test_nonaligned_dimensions_edge_padding():
    a = _rng(5).integers(0, 256, size=(13, 7), dtype=np.uint8)
    d = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(a))
    assert d.shape == (13, 7, 1)  # padding cropped


def test_unsupported_and_hostile_variants():
    a = np.zeros((8, 8), dtype=np.uint8)
    payload = jpeg.encode_jpeg_gray(a)
    with pytest.raises(ValueError, match="not a JPEG"):
        jpeg.jpeg_meta(b"\x89PNG....")
    # hierarchical SOF (e.g. SOF5) still refused outright
    sof5 = bytearray(payload)
    sof_at = sof5.find(b"\xff\xc0")
    sof5[sof_at + 1] = 0xC5
    with pytest.raises(NotImplementedError, match="non-baseline"):
        jpeg.decode_jpeg(bytes(sof5))
    # sampling factors beyond 2 refused (4:1:1 layouts)
    sub = bytearray(jpeg.encode_jpeg_rgb(np.zeros((8, 8, 3), dtype=np.uint8)))
    sof_at = sub.find(b"\xff\xc0")
    sub[sof_at + 11] = 0x41  # Y sampling 4x1
    with pytest.raises(NotImplementedError, match="sampling factor"):
        jpeg.decode_jpeg(bytes(sub))
    # truncated entropy data
    with pytest.raises(ValueError, match="truncated"):
        jpeg.decode_jpeg(payload[: len(payload) // 2])
    # bomb guard: absurd declared dimensions fail before allocation
    big = bytearray(payload)
    sof_at = big.find(b"\xff\xc0")
    struct.pack_into(">HH", big, sof_at + 5, 60000, 60000)
    with pytest.raises(ValueError, match="bomb guard"):
        jpeg.decode_jpeg(bytes(big))
    with pytest.raises(ValueError, match="bomb guard"):
        jpeg.jpeg_meta(payload, max_pixels=16)


def test_hostile_truncation_is_valueerror_never_struct_error():
    """Module contract: truncated/hostile payloads fail with ValueError;
    a raw struct.error escaping any segment parser is a bug (ADVICE r5)."""
    a = np.zeros((8, 8), dtype=np.uint8)
    payload = jpeg.encode_jpeg_gray(a)
    # SOF with seglen=2 (empty body)
    sof_empty = bytearray(payload)
    sof_at = sof_empty.find(b"\xff\xc0")
    struct.pack_into(">H", sof_empty, sof_at + 2, 2)
    with pytest.raises(ValueError, match="truncated SOF"):
        jpeg.decode_jpeg(bytes(sof_empty))
    # DRI with an empty body
    dri_empty = bytearray(payload)
    sos_at = dri_empty.find(b"\xff\xda")
    dri_empty[sos_at:sos_at] = b"\xff\xdd\x00\x02"
    with pytest.raises(ValueError, match="truncated DRI"):
        jpeg.decode_jpeg(bytes(dri_empty))
    # progressive payload cut right after an inter-scan SOS marker: the
    # walker's segment-length read must not run off the end
    prog = jpeg.encode_jpeg_progressive(a)
    first = prog.find(b"\xff\xda")
    second = prog.find(b"\xff\xda", first + 2)
    assert second != -1, "progressive encoder should emit multiple scans"
    with pytest.raises(ValueError, match="truncated"):
        jpeg.decode_jpeg(prog[: second + 2])


def test_bomb_guard_scales_with_component_count_and_buffer_width():
    """A 3-component progressive SOF inside the flat pixel cap but over
    the allocation budget must still refuse (ADVICE r5: int64 coef grids
    are ~16 B/pixel/component, not the PNG guard's uint8)."""
    assert jpeg._effective_max_pixels(jpeg.MAX_PIXELS, 1, False) == jpeg.MAX_PIXELS
    assert jpeg._effective_max_pixels(jpeg.MAX_PIXELS, 3, True) == (1 << 30) // 48
    rgb = bytearray(jpeg.encode_jpeg_progressive(np.zeros((8, 8, 3), dtype=np.uint8)))
    sof_at = rgb.find(b"\xff\xc2")
    # 6000x6000 = 36M pixels: under the 89M flat cap, over the scaled cap
    struct.pack_into(">HH", rgb, sof_at + 5, 6000, 6000)
    with pytest.raises(ValueError, match="bomb guard"):
        jpeg.decode_jpeg(bytes(rgb))


def test_dc_differential_coding_across_blocks():
    # DC prediction chain: alternating extremes stress diff categories
    a = np.zeros((8, 64), dtype=np.uint8)
    a[:, 8:16] = 255
    a[:, 24:32] = 255
    a[:, 40:48] = 1
    d = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(a))[:, :, 0]
    for bx in range(8):
        v = int(a[0, bx * 8])
        assert np.all(d[:, bx * 8 : bx * 8 + 8] == jpeg.flat_block_decode_value(v))


# ---------------------------------------------------------------------------
# progressive (SOF2, spectral selection)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("shape", [(16, 16), (13, 21), (24, 16, 3), (8, 8)])
def test_progressive_decode_equals_baseline(shape):
    """Progressive and baseline encode the SAME quantized levels, so
    decode must be pixel-identical — a full-strength pin on the SOF2
    multi-scan accumulation, EOB-run coding, and per-scan tables."""
    a = _rng(sum(shape)).integers(0, 256, size=shape, dtype=np.uint8)
    base = jpeg.decode_jpeg(
        jpeg.encode_jpeg_gray(a) if len(shape) == 2 else jpeg.encode_jpeg_rgb(a)
    )
    prog = jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(a))
    assert np.array_equal(base, prog)


def test_progressive_eobrun_and_band_splits():
    # flat image: every AC band is all-zero -> maximal EOB runs
    flat = np.full((40, 24), 130, dtype=np.uint8)
    assert np.array_equal(
        jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(flat)),
        jpeg.decode_jpeg(jpeg.encode_jpeg_gray(flat)),
    )
    # finer band split exercises multiple AC scans per component
    a = _rng(77).integers(0, 256, size=(17, 9), dtype=np.uint8)
    p = jpeg.encode_jpeg_progressive(a, bands=((1, 2), (3, 8), (9, 63)))
    assert np.array_equal(
        jpeg.decode_jpeg(p), jpeg.decode_jpeg(jpeg.encode_jpeg_gray(a))
    )
    # meta sees SOF2 dimensions without decoding scans
    assert jpeg.jpeg_meta(p) == (9, 17, 1, 8)
    # invalid band layouts rejected
    with pytest.raises(ValueError, match="band"):
        jpeg.encode_jpeg_progressive(a, bands=((1, 5), (7, 63)))
    with pytest.raises(ValueError, match="band"):
        jpeg.encode_jpeg_progressive(a, bands=((1, 50),))


@pytest.mark.parametrize("shape", [(16, 16), (13, 21), (24, 16, 3), (8, 8)])
def test_successive_approximation_decode_equals_baseline(shape):
    """An SA script refined all the way to Al=0 reconstructs the exact
    quantized levels, so its decode must be pixel-identical to the
    BASELINE decode of the same image — three independently written
    paths (baseline codec, SA encoder, SA decoder) must agree."""
    a = _rng(137 + sum(shape)).integers(0, 256, size=shape, dtype=np.uint8)
    base = jpeg.decode_jpeg(
        jpeg.encode_jpeg_gray(a) if len(shape) == 2 else jpeg.encode_jpeg_rgb(a)
    )
    sa = jpeg.decode_jpeg(jpeg.encode_jpeg_progressive_sa(a))
    assert np.array_equal(base, sa)


def test_successive_approximation_depths_and_regimes():
    # deeper Al scripts: more refinement scans per coefficient
    a = _rng(999).integers(0, 256, size=(32, 24), dtype=np.uint8)
    want = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(a))
    for dc_al, ac_al in [(1, 1), (2, 3), (3, 2)]:
        got = jpeg.decode_jpeg(
            jpeg.encode_jpeg_progressive_sa(a, dc_al=dc_al, ac_al=ac_al)
        )
        assert np.array_equal(want, got), (dc_al, ac_al)
    # flat image: every AC refinement is pure EOB-run coverage
    flat = np.full((40, 24), 131, dtype=np.uint8)
    assert np.array_equal(
        jpeg.decode_jpeg(jpeg.encode_jpeg_progressive_sa(flat)),
        jpeg.decode_jpeg(jpeg.encode_jpeg_gray(flat)),
    )
    # smooth gradient: sparse ACs stress EOB runs WITH buffered
    # correction bits (trailing significant coefs folded into the run)
    y, x = np.mgrid[0:33, 0:17]
    g = ((y * 5 + x * 3) % 256).astype(np.uint8)
    assert np.array_equal(
        jpeg.decode_jpeg(jpeg.encode_jpeg_progressive_sa(g, ac_al=3)),
        jpeg.decode_jpeg(jpeg.encode_jpeg_gray(g)),
    )
    # hostile: refinement magnitude != 1 must refuse, not misdecode
    p = bytearray(jpeg.encode_jpeg_progressive_sa(np.full((8, 8), 99, np.uint8)))
    with pytest.raises(ValueError):
        # truncating mid-refinement leaves the walker on a short scan
        jpeg.decode_jpeg(bytes(p[: len(p) - 3]))


def test_hostile_zero_component_sof_and_bad_spectral_selection():
    """Two fuzz-found contract regressions (r6 review): nc=0 SOF must
    not ZeroDivisionError inside the bomb guard, and Se>63 must not
    IndexError past the 64-entry zigzag — both ValueError."""
    import struct

    body = struct.pack(">BHHB", 8, 16, 16, 0)  # precision 8, nc=0
    payload = (b"\xff\xd8\xff\xc0" + struct.pack(">H", 2 + len(body))
               + body + b"\xff\xd9")
    with pytest.raises(ValueError, match="no components"):
        jpeg.jpeg_meta(payload)
    with pytest.raises(ValueError, match="no components"):
        jpeg.decode_jpeg(payload)

    arr = np.full((8, 8), 100, dtype=np.uint8)
    hacked = bytearray(jpeg.encode_jpeg_progressive(arr))
    i = bytes(hacked).find(b"\xff\xda")
    while i != -1:  # find an AC scan and push its Se past 63
        ns = hacked[i + 4]
        se_off = i + 4 + 1 + 2 * ns + 1
        if hacked[se_off] != 0:
            hacked[se_off] = 200
            break
        i = bytes(hacked).find(b"\xff\xda", i + 2)
    with pytest.raises(ValueError, match="spectral selection"):
        jpeg.decode_jpeg(bytes(hacked))


def test_12bit_extended_sequential_decode():
    """SOF1 12-bit: uint16 output in [0, 4095], 2048 level shift, the
    16-bit DQT form, and the flat-block closed form at the new mid."""
    import math

    # smooth gradient: reconstruction within the quantization bound
    x = np.linspace(0, 4095, 64)
    arr = np.clip(np.round(np.add.outer(x, x) / 2), 0, 4095).astype(np.int64)
    p = jpeg.encode_jpeg_gray(arr, precision=12)
    assert p[p.find(b"\xff\xdb") + 4] == 0x10  # Pq=1 16-bit DQT
    assert b"\xff\xc1" in p  # SOF1
    out = jpeg.decode_jpeg(p)
    assert out.dtype == np.uint16 and out.shape == (64, 64, 1)
    assert jpeg.jpeg_meta(p) == (64, 64, 1, 12)
    assert np.abs(out[:, :, 0].astype(float) - arr).max() <= 4 * 32 / 8 + 1

    # flat blocks follow the determinism contract with mid=2048
    for v in (0, 1, 2047, 2048, 3000, 4095):
        flat = np.full((8, 8), v, dtype=np.int64)
        q0 = 32
        dec = jpeg.decode_jpeg(
            jpeg.encode_jpeg_gray(flat, qtable=np.full(64, q0, np.int64),
                                  precision=12)
        )
        lvl = math.floor(8.0 * (v - 2048) / q0 + 0.5)
        exp = int(min(4095, max(0, math.floor(lvl * q0 / 8.0 + 2048.5))))
        assert int(dec[0, 0, 0]) == exp, v


def test_12bit_validation_and_8bit_sof1():
    with pytest.raises(ValueError, match="4095"):
        jpeg.encode_jpeg_gray(np.full((8, 8), 5000, np.int64), precision=12)
    with pytest.raises(ValueError, match="precision"):
        from tableone_pyspark_spark.functions.jpeg import _encode_planes

        _encode_planes([np.zeros((8, 8))], 8, 8, np.full(64, 16, np.int64),
                       precision=10)
    # an 8-bit stream re-marked SOF1 decodes identically (extended
    # sequential with precision 8 is legal)
    arr = np.arange(64, dtype=np.uint8).reshape(8, 8)
    base = jpeg.encode_jpeg_gray(arr)
    hacked = base.replace(b"\xff\xc0", b"\xff\xc1")
    assert np.array_equal(jpeg.decode_jpeg(base), jpeg.decode_jpeg(hacked))
    # SOF0 with precision 12 stays refused (T.81: baseline is 8-bit)
    p12 = jpeg.encode_jpeg_gray(np.full((8, 8), 9, np.int64), precision=12)
    bad = p12.replace(b"\xff\xc1", b"\xff\xc0")
    with pytest.raises(NotImplementedError, match="SOF0"):
        jpeg.decode_jpeg(bad)
    # invalid DQT precision nibble
    withq = bytearray(base)
    withq[withq.index(b"\xff\xdb") + 4] = 0x20
    with pytest.raises(ValueError, match="DQT precision"):
        jpeg.decode_jpeg(bytes(withq))
    # zero quantizer is a conformance error, not a silent zero plane
    withz = bytearray(base)
    withz[withz.index(b"\xff\xdb") + 5] = 0
    with pytest.raises(ValueError, match="zero quantizer"):
        jpeg.decode_jpeg(bytes(withz))


def test_12bit_truncation_sweep():
    arr = np.clip(
        np.add.outer(np.arange(16) * 200, np.arange(16) * 55), 0, 4095
    ).astype(np.int64)
    payload = jpeg.encode_jpeg_gray(arr, precision=12)
    for cut in range(2, len(payload)):
        try:
            jpeg.decode_jpeg(payload[:cut])
        except (ValueError, NotImplementedError):
            pass  # required types; anything else propagates and fails
